"""ASCII result visualizer — analog of the reference's
scripts/visualize_results.py (which is itself matplotlib-free ASCII,
:5-13), re-pointed at the results TABLE instead of JSON report files.

All aggregation runs as Spark jobs (tiny outputs); rendering is
driver-side string work on those aggregates, so this works unchanged on
a 10^12-row results table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bar_chart(data: dict[str, int], title: str, max_width: int = 50) -> str:
    """ASCII bar chart (reference scripts/visualize_results.py:16-29)."""
    if not data:
        return f"{title}\n  (no data)"
    lines = [title, "=" * len(title)]
    peak = max(data.values()) or 1
    label_w = max(len(k) for k in data)
    # ties by label: aggregate rows come back in no fixed order
    for key, value in sorted(data.items(), key=lambda kv: (-kv[1], kv[0])):
        bar = "#" * max(1, int(value / peak * max_width)) if value else ""
        lines.append(f"  {key.ljust(label_w)} | {bar} {value}")
    return "\n".join(lines)


def processing_report(results: DataFrame) -> str:
    """Job-level report (reference visualize_processing_report :49-101):
    verification-status chart, keep/drop summary, PII category chart
    (from the redactions column when the caller kept it).

    Totals and per-status counts come from ONE rollup pass over the
    results (one scan, one aggregation); `grouping()` tells the
    grand-total row from a real NULL status."""
    # coalesce: sum/avg over zero rows is NULL — report 0s, not "Kept: None"
    rows = (results.rollup("qa_status")
            .agg(F.count(F.lit(1)).alias("total"),
                 F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0)).alias("kept"),
                 F.coalesce(F.sum("pii_count"), F.lit(0)).alias("total_pii"),
                 F.coalesce(F.round(F.avg("pii_count"), 2), F.lit(0.0)).alias("avg_pii"),
                 F.grouping("qa_status").alias("is_total"))
            .collect())
    status = {r["qa_status"]: r["total"] for r in rows if not r["is_total"]}
    # an empty table yields no rollup rows at all, grand total included
    agg = next((r for r in rows if r["is_total"]),
               {"total": 0, "kept": 0, "total_pii": 0, "avg_pii": 0.0})
    out = [
        "PII REDACTION PIPELINE — PROCESSING REPORT",
        "",
        f"Total clips:      {agg['total']}",
        f"Kept:             {agg['kept']} "
        f"({agg['kept'] / max(agg['total'], 1):.1%})",
        f"Total PII found:  {agg['total_pii']} (avg {agg['avg_pii']}/clip)",
        "",
        bar_chart(status, "VERIFICATION STATUS"),
    ]
    if "redactions" in results.columns:
        cats = {r["category"]: r["n"] for r in
                results.select(F.explode("redactions").alias("r"))
                .groupBy(F.col("r.category").alias("category"))
                .agg(F.count(F.lit(1)).alias("n")).collect()}
        out += ["", bar_chart(cats, "PII BY CATEGORY")]
    return "\n".join(out)


def transcript_view(row, width: int = 70) -> str:
    """Single-clip before/after view (reference
    visualize_transcript_deid :104-142)."""
    red = list(row["redactions"] or []) if "redactions" in row.__fields__ else []
    cats: dict[str, int] = {}
    for r in red:
        cats[r["category"]] = cats.get(r["category"], 0) + 1
    lines = [
        f"CLIP {row['clip_id']}",
        "=" * width,
        bar_chart(cats, f"PII DETECTED ({len(red)} total)"),
        "",
        f"  Original: {(row['transcript'] or '')[:width]}...",
        f"  Redacted: {(row['scrubbed_text'] or '')[:width]}...",
    ]
    return "\n".join(lines)
