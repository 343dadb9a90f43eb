"""The job under test, composed the way job.py composes it.

Clip workloads run job.py with its default flags except ``--buckets``
(and ``--no-audio-verify`` for scrub_text): scan the clips parquet,
decide the fuzzy-vocabulary broadcast by job.py's AUTO rule, run
``apply_pipeline`` through ``ResumableRun.run``, then write manifest,
qa_report and processing_report.txt from the committed results. job.py
itself cannot be looped: it stops the session at exit, so every job would
pay a cold start.

The dedup chain runs the registry's dedup/ANN operators over generated
``documents``/``embeddings`` tables, each result written as parquet.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

# job.py --buckets. The default 256 is sized for corpora where a bucket
# holds many row groups; on these inputs it writes cores x 256 files of a
# few rows each, and small-file commit and read-back made a warm job
# 13-16 s on 4 cores, against 4-6 s at 32 buckets and 3-4 s at 8.
N_BUCKETS = 8

# job.py --no-audio-verify per workload
AUDIO_VERIFY = {"scrub_text": False, "audio_clips": True}

# (span name, registry query) in chain order
DEDUP_CHAIN = (
    ("dedup.exact", "dedup_exact"),
    ("dedup.minhash", "minhash_signatures"),
    ("dedup.lsh_pairs", "neardup_pairs_minhash"),
    ("dedup.jaccard_pairs", "jaccard_pairs"),
    ("dedup.simhash64_pairs", "simhash64_pairs"),
    ("dedup.neardup_clusters", "neardup_clusters"),
    ("similarity.ann_ivf_centroid", "ann_ivf_centroid"),
    ("similarity.embedding_neardup", "embedding_neardup"),
)


def dir_usage(path: Path) -> tuple[int, int]:
    """(data files, bytes) under `path`, ignoring checksum/marker files."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def pipeline_config(clips, audio_verify: bool):
    """job.py's PipelineConfig for its default flags."""
    from pii_redaction_pipeline_spark.pipeline import PipelineConfig

    # AUTO vocabulary broadcast: plan-stats size estimate, no extra job
    auto_min = int(os.environ.get("PII_SPARK_FUZZY_VOCAB_AUTO_MIN_BYTES",
                                  1 << 30))
    est = int(clips._jdf.queryExecution().optimizedPlan()
              .stats().sizeInBytes())
    return PipelineConfig(with_audio_verify=audio_verify, with_ppl=True,
                          fuzzy_vocab_broadcast=est >= auto_min)


def run_pipeline_job(spark, clips_dir: Path, out: Path, audio_verify: bool,
                     tracer) -> dict:
    """One job.py run into a fresh output root. Returns ResumableRun's
    info dict."""
    from pii_redaction_pipeline_spark.pipeline import (
        apply_pipeline,
        manifest_df,
        qa_report_df,
    )
    from pii_redaction_pipeline_spark.report import processing_report
    from pii_redaction_pipeline_spark.sources.tableio import ResumableRun

    shutil.rmtree(out, ignore_errors=True)
    clips = spark.read.parquet(str(clips_dir))
    cfg = pipeline_config(clips, audio_verify)

    def process(df):
        return apply_pipeline(df, cfg).drop("redactions")

    with tracer.span("tableio.run"):
        rr = ResumableRun(spark, str(out), n_buckets=N_BUCKETS)
        info = rr.run(clips, process)
    if not info["processed_buckets"]:
        raise RuntimeError(f"job processed no buckets: {info}")
    with tracer.span("report"):
        results = rr.results()
        manifest_df(results).write.mode("overwrite").parquet(
            str(out / "manifest"))
        qa_report_df(results).write.mode("overwrite").parquet(
            str(out / "qa_report"))
        report = processing_report(results)
        (out / "processing_report.txt").write_text(report + "\n")
    return info


def run_dedup_job(spark, root: Path, out: Path, tracer) -> None:
    from pii_redaction_pipeline_spark.queries import QUERIES

    shutil.rmtree(out, ignore_errors=True)
    for span, query in DEDUP_CHAIN:
        with tracer.span(span):
            QUERIES[query][0](spark, str(root)).write.mode(
                "overwrite").parquet(str(out / query))
