"""Checkpoint-resume semantics (SURVEY §5 T3): kill after k buckets,
rerun, final table identical to a single-shot run, duplicate-free."""

import pytest
from pyspark.sql import functions as F

from pii_redaction_pipeline_spark import datagen
from pii_redaction_pipeline_spark.pipeline import PipelineConfig, apply_pipeline
from pii_redaction_pipeline_spark.sources.tableio import ResumableRun

N = 300
BUCKETS = 8


def process(df):
    out = apply_pipeline(df, PipelineConfig(with_audio_verify=False,
                                            with_ppl=False))
    return out.drop("redactions")  # keep the on-disk schema flat for compare


@pytest.fixture()
def clips(spark):
    return datagen.clips_df(spark, N, seed=11, partitions=4,
                            with_audio=False)


def test_resume_after_partial_run(spark, clips, tmp_path):
    # one-shot ground truth
    solo = ResumableRun(spark, str(tmp_path / "solo"), n_buckets=BUCKETS)
    solo.run(clips, process)
    expected = {tuple(r) for r in solo.results().drop("bucket").collect()}

    # killed run: only 3 buckets complete
    rr = ResumableRun(spark, str(tmp_path / "resumed"), n_buckets=BUCKETS)
    r1 = rr.run(clips, process, max_buckets=3)
    assert r1["processed_buckets"] == 3
    assert len(rr.done_buckets()) == 3
    n_partial = rr.results().count()
    assert 0 < n_partial < N

    # resume: remaining buckets only
    r2 = rr.run(clips, process)
    assert r2["skipped_buckets"] == 3
    assert r2["processed_buckets"] == BUCKETS - 3

    got = {tuple(r) for r in rr.results().drop("bucket").collect()}
    assert got == expected
    assert rr.results().count() == N  # no dupes, no loss
    assert rr.results().select("clip_id").distinct().count() == N


def test_rerun_is_noop(spark, clips, tmp_path):
    rr = ResumableRun(spark, str(tmp_path / "o"), n_buckets=BUCKETS)
    rr.run(clips, process)
    r = rr.run(clips, process)
    assert r["processed_buckets"] == 0
    assert r["skipped_buckets"] == BUCKETS
    assert rr.results().count() == N


def test_lineage_rows(spark, clips, tmp_path):
    rr = ResumableRun(spark, str(tmp_path / "o"), n_buckets=BUCKETS)
    info = rr.run(clips, process)
    lin = rr.lineage().collect()
    assert len(lin) == BUCKETS
    assert all(r["status"] == "DONE" for r in lin)
    assert sum(r["n_rows"] for r in lin) == N
    assert all(r["run_id"] == info["run_id"] for r in lin)
    # metrics agree with the results table
    kept = rr.results().where("keep").count()
    assert sum(r["n_kept"] for r in lin) == kept


def test_empty_buckets_marked_done(spark, tmp_path):
    """Buckets that select zero rows still get a DONE lineage row
    (n_rows=0), so resume terminates instead of re-running them forever."""
    few = datagen.clips_df(spark, 20, seed=7, partitions=2, with_audio=False)
    rr = ResumableRun(spark, str(tmp_path / "o"), n_buckets=64)
    rr.run(few, process)
    lin = rr.lineage().collect()
    assert len(lin) == 64                      # every bucket recorded
    assert len(rr.done_buckets()) == 64
    empty = [r for r in lin if r["n_rows"] == 0]
    assert empty and all(r["status"] == "DONE" for r in empty)
    r2 = rr.run(few, process)                  # drive-until-done terminates
    assert r2["processed_buckets"] == 0
    assert r2["skipped_buckets"] == 64
    assert rr.results().count() == 20


LINEAGE_DDL = ("struct<run_id:string,bucket:int,n_rows:bigint,n_kept:bigint,"
               "n_errors:bigint,elapsed_ms:bigint,status:string>")


def _audio_process(df):
    out = apply_pipeline(df, PipelineConfig(with_audio_verify=True,
                                            with_ppl=False))
    return out.drop("redactions")


@pytest.mark.parametrize("audio", [False, True], ids=["text", "audio"])
def test_lineage_schema_and_known_schema_results(spark, tmp_path, audio):
    """Lineage has one schema whatever the pipeline (n_errors is bigint
    with or without an `error` column), and the results a run reads back
    with the schema it wrote equal a fresh inferred read of the same
    directory: names, types, nullability and rows."""
    clips = datagen.clips_df(spark, 60, seed=13, partitions=2,
                             with_audio=audio)
    rr = ResumableRun(spark, str(tmp_path / "o"), n_buckets=BUCKETS)
    rr.run(clips, _audio_process if audio else process)
    assert ("error" in rr.results().columns) == audio
    assert rr.lineage().schema.simpleString() == LINEAGE_DDL

    known = rr.results()
    inferred = ResumableRun(spark, rr.out).results()
    assert known.schema == inferred.schema
    assert (sorted(known.collect(), key=lambda r: r["clip_id"])
            == sorted(inferred.collect(), key=lambda r: r["clip_id"]))


def test_bookkeeping_runs_no_python_tasks(spark, clips, tmp_path,
                                          monkeypatch):
    """Lineage rows, results read-back and the processing report are built
    in the JVM: with createDataFrame and parallelize made to raise, a run
    and its report still succeed."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from pii_redaction_pipeline_spark.report import processing_report

    src = str(tmp_path / "in")
    clips.write.parquet(src)     # the input is built before the patch
    staged = spark.read.parquet(src)

    def refuse(*_a, **_k):
        raise AssertionError("driver rows shipped through Python tasks")

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    rr = ResumableRun(spark, str(tmp_path / "o"), n_buckets=64)
    info = rr.run(staged, process)
    assert info["processed_buckets"] == 64
    assert rr.results().count() == N
    assert sum(r["n_rows"] for r in rr.lineage().collect()) == N
    assert f"Total clips:      {N}" in processing_report(rr.results())


def test_empty_input_run_completes(spark, clips, tmp_path):
    """An input that selects no rows commits no result files; the run
    still records every bucket DONE and its results read back empty."""
    rr = ResumableRun(spark, str(tmp_path / "o"), n_buckets=BUCKETS)
    info = rr.run(clips.where("false"), process)
    assert info["processed_buckets"] == BUCKETS
    assert len(rr.done_buckets()) == BUCKETS
    assert rr.results().count() == 0


def test_half_written_bucket_overwritten(spark, clips, tmp_path):
    """A bucket written but not recorded DONE (simulated crash between
    results commit and lineage append) is reprocessed without dupes."""
    rr = ResumableRun(spark, str(tmp_path / "o"), n_buckets=BUCKETS)
    rr.run(clips, process, max_buckets=2)
    # wipe lineage → as if the job died before recording DONE
    import shutil
    shutil.rmtree(rr.lineage_path)
    rr.run(clips, process)
    assert rr.results().count() == N
    assert rr.results().select("clip_id").distinct().count() == N


def test_write_partitioned_dispatch_iceberg_and_parquet():
    """The Iceberg branch can't execute in-sandbox (no Iceberg jars —
    SURVEY §7.4), but its DISPATCH can be pinned: a configured Iceberg
    catalog + a table-name target must route through
    writeTo().overwritePartitions() (snapshot-atomic per-partition
    overwrite), and a path target must route through the parquet
    dynamic-partition-overwrite chain. Fake objects capture the calls."""
    from pii_redaction_pipeline_spark.sources import tableio

    calls = []

    class FakeWriteTo:
        def overwritePartitions(self):
            calls.append("overwritePartitions")

    class FakeWriter:
        def mode(self, m):
            calls.append(("mode", m))
            return self

        def option(self, k, v):
            calls.append(("option", k, v))
            return self

        def partitionBy(self, c):
            calls.append(("partitionBy", c))
            return self

        def parquet(self, path):
            calls.append(("parquet", path))

    class FakeDF:
        write = FakeWriter()

        def writeTo(self, target):
            calls.append(("writeTo", target))
            return FakeWriteTo()

    class FakeConf:
        def __init__(self, impl):
            self.impl = impl

        def get(self, key, default=""):
            if key == "spark.sql.catalog.spark_catalog":
                return self.impl
            return default

    class FakeSpark:
        def __init__(self, impl):
            self.conf = FakeConf(impl)

    iceberg = FakeSpark("org.apache.iceberg.spark.SparkCatalog")
    tableio.write_partitioned(FakeDF(), "catalog.db.results", iceberg)
    assert calls == [("writeTo", "catalog.db.results"), "overwritePartitions"]

    calls.clear()
    tableio.write_partitioned(FakeDF(), "/warehouse/out/results", iceberg)
    assert calls == [("mode", "overwrite"),
                     ("option", "partitionOverwriteMode", "dynamic"),
                     ("partitionBy", tableio.BUCKET_COL),
                     ("parquet", "/warehouse/out/results")]

    calls.clear()  # no catalog configured → parquet even for a table name
    tableio.write_partitioned(FakeDF(), "db.results", FakeSpark(""))
    assert calls[-1] == ("parquet", "db.results")
