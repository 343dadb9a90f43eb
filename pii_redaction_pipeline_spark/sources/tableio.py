"""Table IO seam + per-partition lineage + checkpoint-resume.

North rule: "write results back to Iceberg with per-partition lineage +
metrics rows enabling checkpoint-resume of partially completed runs."
The reference lists exactly this as future work (NOTES.md:42 "Incremental
processing - skip already-processed files").

Design (Iceberg-first, parquet fallback — SURVEY §7.3.4):
  - The unit of work is a *bucket*: pmod(hash(clip_id), n_buckets). Rows
    are bucketed deterministically, so a bucket is a stable, idempotent
    partition of the input regardless of cluster size.
  - Results land in a table partitioned by `bucket`. With Iceberg this is
    `writeTo(...).overwritePartitions()` (atomic snapshot per run); on the
    parquet fallback it is dynamic partition overwrite — a re-processed
    bucket replaces its own files only.
  - After the results job commits, one lineage row per completed bucket is
    appended (run_id, bucket, n_rows, n_kept, n_errors, elapsed_ms, DONE).
    The counts come from ONE grouped collect over the committed read-back
    (at most n_buckets rows); the driver zero-fills pending buckets that
    selected no rows and writes the rows as a JVM literal table
    (schema.literal_df). Not `createDataFrame(list)`: that pickles the
    bucket ids through sc.parallelize — defaultParallelism Python tasks,
    thousands on a large cluster, to list a few hundred buckets.
  - The run keeps the results schema it just wrote, so its read-backs
    (lineage counts, results()) skip the footer-reading schema-inference
    job a bare `spark.read.parquet` launches.
  - Resume = anti-join: buckets with a DONE lineage row are skipped; only
    unfinished buckets are read (partition pruning on the input side when
    the source is bucket-partitioned) and re-processed. A bucket that was
    half-written but never recorded DONE is simply overwritten — so a
    killed run never duplicates or loses rows.

This module is pure job logic — no custom Catalyst rules (SURVEY §4.3).
"""

from __future__ import annotations

import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import LINEAGE_SCHEMA, METRICS_SCHEMA, literal_df

BUCKET_COL = "bucket"


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is configured on the session (the
    sandbox has no Iceberg jars, so this is False here; on a cluster,
    spark-submit carries --packages org.apache.iceberg:... and a catalog
    config, and the seam below switches to snapshot-atomic writes)."""
    try:
        for key in ("spark.sql.catalog.spark_catalog",
                    "spark.sql.catalog.local"):
            impl = spark.conf.get(key, "")
            if impl and "iceberg" in impl.lower():
                return True
    except Exception:
        pass
    return False


def write_partitioned(df: DataFrame, target: str, spark: SparkSession) -> None:
    """Partition-overwrite write seam: Iceberg `overwritePartitions()`
    (atomic snapshot per run) when a catalog is configured and `target`
    is a table name; parquet dynamic partition overwrite otherwise —
    same contract: a re-processed bucket replaces only its own rows."""
    if "/" not in target and iceberg_available(spark):
        df.writeTo(target).overwritePartitions()
    else:
        (df.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(BUCKET_COL)
         .parquet(target))


def append_metrics(metrics: DataFrame, out_dir: str, source: str,
                   run_id: str | None = None) -> None:
    """Append one-row metric DataFrames (e.g. dedup.lsh_bucket_stats,
    similarity.embedding_bucket_stats) as LONG-format rows next to the
    lineage table: (run_id, source, metric, value, ts_ms). Long format
    keeps the metrics table schema stable as new monitors are added —
    production runbooks (SCALE.md: "monitor candidate volume and raise
    N_IVF_BITS / widen hash slices") read this table."""
    run_id = run_id or uuid.uuid4().hex[:12]
    ts_ms = int(time.time() * 1000)
    wide = metrics.collect()  # one row by contract — metadata-scale
    rows = [(run_id, source, c, float(r[c]), ts_ms)
            for r in wide for c in metrics.columns]
    (literal_df(metrics.sparkSession, rows, METRICS_SCHEMA)
     .write.mode("append").parquet(str(Path(out_dir) / "metrics")))


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(str(Path(out_dir) / "metrics"))


def with_bucket(df: DataFrame, n_buckets: int, key: str = "clip_id") -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.hash(F.col(key)), F.lit(n_buckets)).cast("int"))


class ResumableRun:
    """Checkpoint-resumable pipeline execution over bucketed input."""

    def __init__(self, spark: SparkSession, out_dir: str, n_buckets: int = 64):
        self.spark = spark
        self.out = Path(out_dir)
        self.n_buckets = n_buckets
        self.results_path = str(self.out / "results")
        self.lineage_path = str(self.out / "lineage")
        self._results_schema: T.StructType | None = None

    # -- lineage ------------------------------------------------------------

    def done_buckets(self) -> set[int]:
        if not Path(self.lineage_path).exists():
            return set()
        rows = (self.spark.read.parquet(self.lineage_path)
                .where(F.col("status") == "DONE")
                .select(BUCKET_COL).distinct().collect())
        return {r[BUCKET_COL] for r in rows}

    # -- execution ----------------------------------------------------------

    def run(self, clips: DataFrame, process_fn, max_buckets: int | None = None,
            run_id: str | None = None) -> dict:
        """Process all not-yet-DONE buckets. `max_buckets` caps how many
        buckets this invocation completes (used by tests to simulate a
        killed run; on a cluster it bounds one spark-submit's work)."""
        run_id = run_id or uuid.uuid4().hex[:12]
        done = self.done_buckets()
        pending = [b for b in range(self.n_buckets) if b not in done]
        if max_buckets is not None:
            pending = pending[:max_buckets]
        if not pending:
            return {"run_id": run_id, "processed_buckets": 0,
                    "skipped_buckets": len(done)}

        t0 = time.time()
        bucketed = with_bucket(clips, self.n_buckets)
        todo = bucketed.where(F.col(BUCKET_COL).isin(pending))
        results = process_fn(todo)

        write_partitioned(results, self.results_path, self.spark)
        # the read-back schema: data columns in write order, then the
        # partition column (Spark makes every field nullable on read)
        self._results_schema = T.StructType(
            [f for f in results.schema.fields if f.name != BUCKET_COL]
            + [T.StructField(BUCKET_COL, T.IntegerType(), True)])

        elapsed_ms = int((time.time() - t0) * 1000)
        # metrics from the committed table (not the plan) → lineage reflects
        # what is actually on disk; one grouped collect, ≤ n_buckets rows
        written = self.results().where(F.col(BUCKET_COL).isin(pending))
        agg = [F.count(F.lit(1)).alias("n_rows")]
        agg.append((F.sum(F.col("keep").cast("long")) if "keep" in results.columns
                    else F.lit(0)).alias("n_kept"))
        agg.append((F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
                    if "error" in results.columns else F.lit(0)).alias("n_errors"))
        counts = {r[0]: r[1:] for r in
                  written.groupBy(BUCKET_COL).agg(*agg).collect()}
        # every pending bucket gets a DONE row, zero-filled when it selected
        # no rows — otherwise resume re-selects it forever and a
        # drive-until-done loop never terminates (a NULL sum also reads 0)
        rows = [(run_id, b, *(int(v or 0) for v in counts.get(b, (0, 0, 0))),
                 elapsed_ms, "DONE") for b in pending]
        (literal_df(self.spark, rows, LINEAGE_SCHEMA)
         .write.mode("append").parquet(self.lineage_path))
        return {"run_id": run_id, "processed_buckets": len(pending),
                "skipped_buckets": len(done), "elapsed_ms": elapsed_ms}

    def results(self) -> DataFrame:
        """The results table; read with the schema this object wrote when
        it has one (no inference job), else inferred from the files."""
        if self._results_schema is None:
            return self.spark.read.parquet(self.results_path)
        return self.spark.read.schema(self._results_schema).parquet(
            self.results_path)

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(self.lineage_path)
