"""Correctness gate, run outside the timed region on one job's committed
output. Each check returns a list of failure strings (empty = pass).

- clip rows: keep/drop, qa_status and scrubbed_text per row equal
  ``core.process_transcript`` (keep/drop F1 = 1.0, byte-equal text). With
  decode-verify on, keep/qa_status go through core's worst-of combine with
  the expected decode outcome, and decode_ok/n_samples match the
  generator;
- job artefacts: one row per input clip, every bucket DONE in lineage with
  n_rows summing to the input, manifest/qa_report/processing_report
  complete;
- audio: decoded PCM of sampled rows reaches SNR >= 30 dB against
  ``datagen.synth_pcm``;
- dedup/ANN: every chained result hashes equal to its DuckDB twin. The
  twins in ``SLOW_TWINS`` take 4-30 s in DuckDB at the timed corpus size,
  so those three are checked on the warm-up chain's output (same code, a
  tenth of the corpus) and the rest on the timed chain's output.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import pandas as pd

SNR_MIN_DB = 30.0
SNR_SAMPLE_ROWS = 8
SLOW_TWINS = frozenset({"neardup_pairs_minhash", "jaccard_pairs",
                        "neardup_clusters"})


def _clip_index(clip_id: str) -> int:
    return int(clip_id.rsplit("_", 1)[1])


def _expected_rows(pdf: pd.DataFrame, audio: bool) -> pd.DataFrame:
    """Per-row oracle flags: 1 where the result row disagrees."""
    from pii_redaction_pipeline_spark import core
    from pii_redaction_pipeline_spark import lexicon as lx

    out = {"tp": [], "fp": [], "fn": [], "text_bad": [], "status_bad": []}
    for row in pdf.itertuples(index=False):
        ref = core.process_transcript(row.transcript)
        status, keep, decode_bad = ref["qa_status"], ref["keep"], False
        if audio:
            want_ok = row.codec == "wav" and row.has_bytes
            want_n = int(row.sr_hz * row.dur_ms / 1000) if want_ok else 0
            status = core.combine_status(status, want_ok)
            keep = bool(ref["quality_ok"]
                        and ref["lang_conf"] >= lx.LANGID_MIN_CONFIDENCE
                        and status == "PASS")
            decode_bad = (bool(row.decode_ok) != want_ok
                          or int(row.n_samples) != want_n)
        got = bool(row.keep)
        out["tp"].append(int(got and keep))
        out["fp"].append(int(got and not keep))
        out["fn"].append(int(keep and not got))
        out["text_bad"].append(int(row.scrubbed_text != ref["scrubbed_text"]))
        out["status_bad"].append(int(row.qa_status != status or decode_bad))
    return pd.DataFrame(out)


def check_rows(results, audio: bool) -> list[str]:
    """Row-parity check computed on the executors (mapInPandas) over the
    whole results table."""
    from pyspark.sql import functions as F

    cols = ["transcript", "scrubbed_text", "keep", "qa_status"]
    if audio:
        cols += ["codec", "sr_hz", "dur_ms", "decode_ok", "n_samples",
                 F.col("bytes").isNotNull().alias("has_bytes")]
    schema = "tp long, fp long, fn long, text_bad long, status_bad long"

    def oracle(batches):
        for pdf in batches:
            yield _expected_rows(pdf, audio)

    agg = (results.select(*cols).mapInPandas(oracle, schema)
           .agg(*[F.sum(c).alias(c) for c in
                  ("tp", "fp", "fn", "text_bad", "status_bad")])
           .collect()[0].asDict())
    agg = {k: int(v or 0) for k, v in agg.items()}
    denom = 2 * agg["tp"] + agg["fp"] + agg["fn"]
    f1 = 1.0 if denom == 0 else 2 * agg["tp"] / denom
    fails = []
    if f1 != 1.0:
        fails.append(f"keep/drop F1 {f1:.6f} != 1.0 ({agg})")
    if agg["text_bad"]:
        fails.append(f"{agg['text_bad']} rows: scrubbed_text differs "
                     f"from core.process_transcript")
    if agg["status_bad"]:
        fails.append(f"{agg['status_bad']} rows: qa_status/decode_ok/"
                     f"n_samples differ from the oracle")
    return fails


def check_artefacts(spark, out: Path, n_rows: int, n_buckets: int) -> list[str]:
    from pyspark.sql import functions as F

    fails = []
    res = spark.read.parquet(str(out / "results"))
    got = res.agg(F.count(F.lit(1)).alias("n"),
                  F.countDistinct("clip_id").alias("d")).collect()[0]
    if got["n"] != n_rows or got["d"] != n_rows:
        fails.append(f"results: {got['n']} rows / {got['d']} clip_ids, "
                     f"want {n_rows}")
    lin = (spark.read.parquet(str(out / "lineage"))
           .where(F.col("status") == "DONE")
           .agg(F.countDistinct("bucket").alias("b"),
                F.sum("n_rows").alias("n")).collect()[0])
    if lin["b"] != n_buckets or lin["n"] != n_rows:
        fails.append(f"lineage: {lin['b']} DONE buckets / {lin['n']} rows, "
                     f"want {n_buckets} / {n_rows}")
    n_man = spark.read.parquet(str(out / "manifest")).count()
    if n_man != n_rows:
        fails.append(f"manifest: {n_man} rows, want {n_rows}")
    qa = spark.read.parquet(str(out / "qa_report")).collect()
    if len(qa) != 1 or qa[0]["total"] != n_rows:
        fails.append(f"qa_report: {qa}, want total {n_rows}")
    report = (out / "processing_report.txt").read_text()
    if f"Total clips:      {n_rows}" not in report:
        fails.append("processing_report.txt lacks the clip total")
    return fails


def check_snr(results, seed: int) -> list[str]:
    """Decode a seeded sample of WAV rows from the committed results and
    compare with the generator's signal."""
    from pyspark.sql import functions as F

    from pii_redaction_pipeline_spark import datagen
    from pii_redaction_pipeline_spark.functions.audio import (
        decode_wav_bytes,
        snr_db,
    )

    rows = (results.where((F.col("codec") == "wav")
                          & F.col("bytes").isNotNull())
            .select("clip_id", "bytes", "sr_hz", "dur_ms")
            .orderBy(F.xxhash64("clip_id", F.lit(seed)))
            .limit(SNR_SAMPLE_ROWS).collect())
    if not rows:
        return ["audio: no decodable rows to sample"]
    fails = []
    for r in rows:
        pcm, sr = decode_wav_bytes(bytes(r["bytes"]))
        ref = datagen.synth_pcm(_clip_index(r["clip_id"]), r["dur_ms"],
                                r["sr_hz"])
        snr = snr_db(ref, pcm)
        if sr != r["sr_hz"] or len(pcm) != len(ref) or snr < SNR_MIN_DB:
            fails.append(f"{r['clip_id']}: sr {sr}, {len(pcm)} samples, "
                         f"SNR {snr:.1f} dB")
    return fails


def gate_clips(spark, out: Path, n_rows: int, n_buckets: int, audio: bool,
               seed: int) -> list[str]:
    results = spark.read.parquet(str(out / "results"))
    fails = check_artefacts(spark, out, n_rows, n_buckets)
    fails += check_rows(results, audio)
    if audio:
        fails += check_snr(results, seed)
    return fails


# --- dedup / ANN vs DuckDB -------------------------------------------------

def _canon(v) -> str:
    if isinstance(v, float):
        v = round(v, 9)
        if v == 0.0:
            v = 0.0
    elif hasattr(v, "isoformat"):
        v = v.isoformat()
    return repr(v)


def table_hash(rows, columns) -> tuple[int, str]:
    """Order-insensitive (row count, sha256) of rows with columns sorted
    by name and floats rounded to 9 digits."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def gate_dedup(spark, root: Path, out: Path, queries) -> list[str]:
    """Hash-compare each result under `out` with its DuckDB twin run over
    the input tables under `root`."""
    import duckdb

    from pii_redaction_pipeline_spark.queries import QUERIES

    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"read_parquet('{root / (table + '.parquet')}/*.parquet')")
        fails = []
        for query in queries:
            sdf = spark.read.parquet(str(out / query))
            scols = sdf.columns
            srows = [[r[c] for c in scols] for r in sdf.collect()]
            cur = con.execute(QUERIES[query][1])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            if sorted(scols) != sorted(dcols):
                fails.append(f"{query}: columns {scols} vs {dcols}")
                continue
            a, b = table_hash(srows, scols), table_hash(drows, dcols)
            if a != b:
                fails.append(f"{query}: spark {a} != duckdb {b}")
        return fails
    finally:
        con.close()
