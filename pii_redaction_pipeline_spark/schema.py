"""Explicit StructType schemas (SURVEY §1.3 — declared once, no inference).

Input table shape is authoritative from BASELINE.json input_hint:
clips(clip_id string, bytes binary, sr_hz int, dur_ms int, codec string,
transcript string).
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

CLIPS_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("sr_hz", T.IntegerType(), True),
    T.StructField("dur_ms", T.IntegerType(), True),
    T.StructField("codec", T.StringType(), True),
    T.StructField("transcript", T.StringType(), True),
])

REDACTION_SCHEMA = T.StructType([
    T.StructField("original", T.StringType(), True),
    T.StructField("replacement", T.StringType(), True),
    T.StructField("category", T.StringType(), True),
    T.StructField("confidence", T.DoubleType(), True),
    T.StructField("is_fuzzy", T.BooleanType(), True),
])

# Return struct of the detect_and_scrub pandas UDF (core.scrub_row).
SCRUB_STRUCT = T.StructType([
    T.StructField("scrubbed_text", T.StringType(), True),
    T.StructField("redactions", T.ArrayType(REDACTION_SCHEMA), True),
    T.StructField("n_exact", T.IntegerType(), True),
    T.StructField("n_fuzzy", T.IntegerType(), True),
    T.StructField("n_email", T.IntegerType(), True),
    T.StructField("n_ssn", T.IntegerType(), True),
    T.StructField("n_phone", T.IntegerType(), True),
    T.StructField("n_toxic", T.IntegerType(), True),
    T.StructField("verify_pii_count", T.IntegerType(), True),
])

# Return struct of the decode_verify pandas UDF.
DECODE_STRUCT = T.StructType([
    T.StructField("decode_ok", T.BooleanType(), True),
    T.StructField("n_samples", T.LongType(), True),
    T.StructField("decoded_sr", T.IntegerType(), True),
    T.StructField("rms", T.DoubleType(), True),
    T.StructField("peak", T.DoubleType(), True),
    T.StructField("error", T.StringType(), True),
    T.StructField("stage", T.StringType(), True),
])

WER_STRUCT = T.StructType([
    T.StructField("wer", T.DoubleType(), True),
    T.StructField("substitutions", T.IntegerType(), True),
    T.StructField("insertions", T.IntegerType(), True),
    T.StructField("deletions", T.IntegerType(), True),
    T.StructField("reference_words", T.IntegerType(), True),
    T.StructField("hypothesis_words", T.IntegerType(), True),
])

MANIFEST_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("duration_sec", T.DoubleType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("has_pii", T.BooleanType(), True),
    T.StructField("pii_count", T.IntegerType(), True),
    T.StructField("deid_version", T.StringType(), True),
    T.StructField("qa_status", T.StringType(), True),
])

LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("n_rows", T.LongType(), True),
    T.StructField("n_kept", T.LongType(), True),
    T.StructField("n_errors", T.LongType(), True),
    T.StructField("elapsed_ms", T.LongType(), True),
    T.StructField("status", T.StringType(), True),
])

# Long-format monitor rows next to the lineage table (tableio.append_metrics).
METRICS_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("metric", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
    T.StructField("ts_ms", T.LongType(), True),
])

# Fuzzy candidate dim (fuzzy_sql.candidates_df), reference priority order.
FUZZY_CANDIDATE_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), True),
    T.StructField("category", T.StringType(), True),
    T.StructField("ord", T.LongType(), True),
])


def literal_df(spark, rows, schema: T.StructType):
    """A driver-side list of tuples as a table built in the JVM: one JSON
    string literal parsed by `from_json` into `array<schema>` and
    `inline`d on a one-row, one-partition range. Catalyst folds the parse
    into a constant, so the table costs one single-task stage and no
    Python worker.

    Why not `createDataFrame(list)`: it pickles the rows through
    `sc.parallelize` — defaultParallelism Python tasks to list a few
    metadata rows. Why not one `F.struct(F.lit(..))` per row: every
    literal is a Py4J round trip (256 rows x 7 fields took 6.3 s, the
    JSON literal 0.03 s; local[2] driver on a 4-core host). FAILFAST
    turns a value that does not fit its declared type into an error
    instead of a silently empty table."""
    doc = json.dumps([dict(zip(schema.names, r)) for r in rows])
    return spark.range(0, 1, 1, 1).select(F.inline(F.from_json(
        F.lit(doc), T.ArrayType(schema), {"mode": "FAILFAST"})))
