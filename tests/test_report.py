"""processing_report / bar_chart: one aggregation pass, pinned text for an
empty table, deterministic bar order."""

import uuid

import pytest

from pii_redaction_pipeline_spark import datagen
from pii_redaction_pipeline_spark.pipeline import PipelineConfig, apply_pipeline
from pii_redaction_pipeline_spark.report import bar_chart, processing_report
from pii_redaction_pipeline_spark.sources.tableio import ResumableRun


@pytest.fixture()
def results(spark, tmp_path):
    """A committed results table without the redactions column (the shape
    job.py writes)."""
    clips = datagen.clips_df(spark, 120, seed=31, partitions=4,
                             with_audio=False)
    rr = ResumableRun(spark, str(tmp_path / "o"), n_buckets=8)
    rr.run(clips, lambda df: apply_pipeline(
        df, PipelineConfig(with_audio_verify=False, with_ppl=False))
        .drop("redactions"))
    return rr.results()


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_report_is_one_aggregation_pass(spark, results):
    """Totals and per-status counts share one scan and one aggregation:
    exactly one Spark job without adaptive execution, and under it no more
    jobs than a single groupBy().count() (AQE runs each shuffle map stage
    as a job of its own)."""
    key = "spark.sql.adaptive.enabled"
    aqe = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert _jobs(spark, lambda: processing_report(results)) == 1
    finally:
        spark.conf.set(key, aqe)
    one_agg = _jobs(spark,
                    lambda: results.groupBy("qa_status").count().collect())
    assert _jobs(spark, lambda: processing_report(results)) == one_agg


def test_report_totals_match_status_counts(results):
    counts = {r["qa_status"]: r["count"]
              for r in results.groupBy("qa_status").count().collect()}
    rep = processing_report(results)
    assert "Total clips:      120" in rep
    assert rep.endswith(bar_chart(counts, "VERIFICATION STATUS"))


def test_empty_report_text(results):
    assert processing_report(results.where("false")) == "\n".join([
        "PII REDACTION PIPELINE — PROCESSING REPORT",
        "",
        "Total clips:      0",
        "Kept:             0 (0.0%)",
        "Total PII found:  0 (avg 0.0/clip)",
        "",
        "VERIFICATION STATUS",
        "  (no data)",
    ])


def test_bar_chart_ties_sort_by_label():
    a = bar_chart({"b": 2, "c": 5, "a": 2}, "T", max_width=5)
    b = bar_chart({"a": 2, "b": 2, "c": 5}, "T", max_width=5)
    assert a == b == "\n".join(["T", "=", "  c | ##### 5",
                                "  a | ## 2", "  b | ## 2"])
