"""Metric names and units (BENCHMARK.json mirrors these; a test keeps the
two in step) and the result line."""

from __future__ import annotations

WORKLOADS = ("scrub_text", "audio_clips")

END_TO_END = {
    "job_cpu_s": "s",
    "rows_per_cpu_s": "rows/cpu_s",
    "setup_s": "s",
    "worker_rss_mb": "MB",
    "out_bytes_per_row": "B/row",
    "row_ok_rate": "ratio",
    "run_ok_rate": "ratio",
}

PER_LAYER = {
    "job.wall_s": "s",
    "job.rows_per_s": "rows/s",
    "session.start_s": "s",
    "session.worker_spawn_s": "s",
    "scan.stage_s": "s",
    "quality.stage_s": "s",
    "grade.stage_s": "s",
    "quality.rows_failed": "count",
    "langid.stage_s": "s",
    "langid.udf_us_per_row": "us/row",
    "scrub.stage_s": "s",
    "scrub.kernel_us_per_row": "us/row",
    "scrub.udf_us_per_row": "us/row",
    "scrub.verify_us_per_row": "us/row",
    "scrub.pii_total": "count",
    "scrub.fuzzy_total": "count",
    "ppl.stage_s": "s",
    "ppl.udf_us_per_row": "us/row",
    "audio.stage_s": "s",
    "audio.decode_us_per_row": "us/row",
    "audio.decode_errors": "count",
    "fuzzy_vocab.collect_s": "s",
    "fuzzy_vocab.entries": "count",
    "tableio.run_s": "s",
    "sink.stage_s": "s",
    "tableio.files_written": "count",
    "tableio.bytes_written": "B",
    "report.stage_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.lsh_pairs_s": "s",
    "dedup.jaccard_pairs_s": "s",
    "dedup.simhash64_pairs_s": "s",
    "dedup.neardup_clusters_s": "s",
    "similarity.ann_ivf_centroid_s": "s",
    "similarity.embedding_neardup_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_skew": "ratio",
    "spark.cpu_frac": "ratio",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
    "trace.explained_ratio": "ratio",
}


# printed by --trace 0 next to the end-to-end metrics, not in its result
INFO = {"job_s": "s", "rows_per_s": "rows/s"}


def unit(name: str) -> str:
    return END_TO_END.get(name) or INFO.get(name) or PER_LAYER[name]


def result(kind: str, values: dict, correct: bool, attempted: int,
           failed: int) -> dict:
    """The benchmark's last stdout line. Every metric of `kind` must be
    present; a layer the workload does not run reports 0."""
    names = END_TO_END if kind == "end_to_end" else PER_LAYER
    missing = set(names) - set(values)
    if missing:
        raise KeyError(f"{kind} metrics not measured: {sorted(missing)}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(values[n]), "unit": names[n]}
                    for n in names},
    }
