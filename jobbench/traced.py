"""The traced run: per-layer metrics for one workload.

The whole run's session has the event log on. After the timed loop, one
more job runs with spans around the calls into each package module
(tagged with a job group for the event-log reader),
followed by the fuzzy-vocabulary job and the stage-prefix ablation. On
scrub_text the dedup/ANN chain follows (warm-up chain, then a traced
chain, then its DuckDB gate). The kernel micro-harness runs
single-threaded once Spark is stopped. Layers a workload does not run
report 0.
"""

from __future__ import annotations

import shutil

import eventlog
import gate
import inputs
import jobpath
import kernels
import metrics as M
import sparkenv
import stages

JOB_GROUP = "jobbench-job"
# A dedup workload of its own would cost ~70 s a run (a cold warm-up
# chain, the chain, the DuckDB twins); the chain is measured per-layer in
# this workload's traced run instead.
DEDUP_ON = "scrub_text"


def log_dir(workload: str):
    return sparkenv.WORK / f"trace-{workload}" / "eventlog"


def eventlog_conf(workload: str) -> dict:
    """Session conf for a traced run; clears the previous run's log."""
    d = log_dir(workload)
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return eventlog.eventlog_conf(d)


def _job_counts(spark, out) -> dict:
    from pyspark.sql import functions as F

    res = spark.read.parquet(str(out / "results"))
    decode_failed = (F.sum((~F.col("decode_ok")).cast("long"))
                     if "decode_ok" in res.columns else F.lit(0))
    r = res.agg(
        F.sum((~F.col("quality_ok")).cast("long")).alias("qf"),
        F.sum("pii_count").alias("pii"),
        F.sum("n_fuzzy").alias("fz"),
        decode_failed.alias("de"),
    ).collect()[0]
    files = bytes_ = 0
    for sub in ("results", "lineage"):
        f, s = jobpath.dir_usage(out / sub)
        files, bytes_ = files + f, bytes_ + s
    return {"quality.rows_failed": r["qf"] or 0,
            "scrub.pii_total": r["pii"] or 0,
            "scrub.fuzzy_total": r["fz"] or 0,
            "audio.decode_errors": r["de"] or 0,
            "tableio.files_written": files,
            "tableio.bytes_written": bytes_}


def _pipeline_layers(b, out) -> tuple[dict, dict | None]:
    from pii_redaction_pipeline_spark.functions.fuzzy_sql import (
        collect_fuzzy_vocab_map,
    )
    from pii_redaction_pipeline_spark.functions.quality import (
        drop_helper_cols,
        with_langid,
        with_quality,
    )

    spark, tr = b.spark, b.tracer
    m = _job_counts(spark, out)
    m["tableio.run_s"] = tr.total("tableio.run")
    m["report.stage_s"] = tr.total("report")

    clips = spark.read.parquet(str(b.inp.root))
    cfg = jobpath.pipeline_config(clips, b.audio)
    # the fuzzy_sql layer on this corpus: the vocabulary job that job.py's
    # AUTO rule runs for inputs >= 1 GiB
    with tr.span("fuzzy_vocab.collect") as s:
        fmap = collect_fuzzy_vocab_map(
            drop_helper_cols(with_langid(with_quality(clips))), spark,
            cfg.text_col)
    m["fuzzy_vocab.collect_s"] = s.seconds
    m["fuzzy_vocab.entries"] = len(fmap)
    walls = stages.prefix_walls(
        spark, clips, cfg, jobpath.N_BUCKETS,
        fmap if cfg.fuzzy_vocab_broadcast else None, tr)
    m.update(stages.stage_metrics(walls))
    m["sink.stage_s"] = m["tableio.run_s"] - walls["ppl"]
    return m, fmap if cfg.fuzzy_vocab_broadcast else None


def _dedup_layers(b) -> tuple[dict, list[str]]:
    """Warm-up chain on a tenth of the corpus, then the traced chain;
    each result is checked against its DuckDB twin."""
    spark, tr = b.spark, b.tracer
    root = b.dir / "dedup"
    n = sparkenv.cores()
    full = inputs.make_dedup_inputs(b.args.seed, root / "in", n)
    warm = inputs.make_dedup_inputs(b.args.seed, root / "warm-in", n,
                                    scale=0.1)
    spark.sparkContext.setJobGroup("jobbench-dedup-warm", "dedup warm-up")
    tr.enabled = False
    jobpath.run_dedup_job(spark, warm.root, root / "warm-out", tr)
    tr.enabled = True
    spark.sparkContext.setJobGroup("jobbench-dedup", "dedup chain")
    jobpath.run_dedup_job(spark, full.root, root / "out", tr)
    m = {f"{span}_s": tr.total(span) for span, _q in jobpath.DEDUP_CHAIN}
    queries = [q for _s, q in jobpath.DEDUP_CHAIN]
    fails = (gate.gate_dedup(spark, full.root, root / "out",
                             [q for q in queries if q not in gate.SLOW_TWINS])
             + gate.gate_dedup(spark, warm.root, root / "warm-out",
                               [q for q in queries if q in gate.SLOW_TWINS]))
    return m, fails


def per_layer(b, session_parts: dict, loop_job_s: float,
              n_rows: int) -> tuple[dict, list[str]]:
    """Per-layer metrics plus the dedup gate's failures. The session was
    started with ``eventlog_conf(b.workload)``; `loop_job_s` is this run's
    timed-loop median wall (event log on, spans off) over `n_rows` rows."""
    spark, tr = b.spark, b.tracer
    app_id = spark.sparkContext.applicationId
    tr.enabled, tr.run_id = True, app_id
    out = b.dir / "trace-out"
    spark.sparkContext.setJobGroup(JOB_GROUP, "traced job")
    with tr.span("job") as job_span:
        b.job(b.inp, out)
    spark.sparkContext.setJobGroup("jobbench-layers", "per-layer extras")

    m = {n: 0.0 for n in M.PER_LAYER}
    m.update(session_parts)
    layers, fmap = _pipeline_layers(b, out)
    m.update(layers)
    # stage walls telescope to the noop wall of the whole pipeline;
    # + sink + report make the job
    explained = sum(v for k, v in layers.items() if k.endswith(".stage_s"))
    m["job.wall_s"] = loop_job_s
    m["job.rows_per_s"] = n_rows / loop_job_s
    m["trace.job_s"] = job_span.seconds
    m["trace.overhead_s"] = job_span.seconds - loop_job_s
    m["trace.explained_ratio"] = explained / loop_job_s
    fails = []
    if b.workload == DEDUP_ON:
        dedup, fails = _dedup_layers(b)
        m.update(dedup)

    spark.stop()                    # flushes the event log
    m.update(eventlog.engine_metrics(eventlog.read_events(
        log_dir(b.workload) / app_id), JOB_GROUP))

    # Spark is stopped: one thread, no contention
    m.update(kernels.measure_text(kernels.text_slice(b.args.seed), fmap, tr))
    if b.audio:
        m.update(kernels.measure_decode(b.args.seed, tr))
    return m, fails
