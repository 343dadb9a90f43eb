"""Cumulative-prefix stage walls of the job's pipeline, each to a noop
sink: scan, +quality, +langid, +scrub, [+audio], +grade, +ppl. A stage's
wall is its prefix's wall minus the previous prefix's. The prefixes
follow ``apply_pipeline``'s order and Arrow batch size over the same
bucketed input ``ResumableRun.run`` processes."""

from __future__ import annotations

import time


def _noop_wall(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def prefix_walls(spark, clips, cfg, n_buckets: int, fuzzy_map, tracer) -> dict:
    """{prefix name: noop wall}; the last prefix equals the job's
    `process` function on the job's bucketed input."""
    from pyspark.sql import functions as F

    from pii_redaction_pipeline_spark.functions.audio import with_decode_verify
    from pii_redaction_pipeline_spark.functions.perplexity import with_ppl
    from pii_redaction_pipeline_spark.functions.quality import (
        drop_helper_cols,
        with_grade,
        with_langid,
        with_quality,
    )
    from pii_redaction_pipeline_spark.functions.scrub import with_scrub
    from pii_redaction_pipeline_spark.session import (
        ARROW_BATCH_AUDIO,
        ARROW_BATCH_TEXT,
        set_arrow_batch,
    )
    from pii_redaction_pipeline_spark.sources.tableio import (
        BUCKET_COL,
        with_bucket,
    )

    audio_on = cfg.with_audio_verify and "bytes" in clips.columns
    set_arrow_batch(spark, ARROW_BATCH_AUDIO if audio_on else ARROW_BATCH_TEXT)
    df = with_bucket(clips, n_buckets).where(
        F.col(BUCKET_COL).isin(list(range(n_buckets))))
    steps = [("scan", lambda d: d),
             ("quality", lambda d: drop_helper_cols(with_quality(d, cfg.text_col))),
             ("langid", lambda d: drop_helper_cols(with_langid(
                 with_quality(d, cfg.text_col), cfg.text_col))),
             ("scrub", lambda d: with_scrub(d, cfg.text_col, cfg.with_fuzzy,
                                           fuzzy_map).drop("redactions"))]
    if audio_on:
        steps.append(("audio", with_decode_verify))
    steps.append(("grade", with_grade))
    steps.append(("ppl", lambda d: with_ppl(d, cfg.text_col)))

    walls = {}
    base = df
    for name, step in steps:
        # quality/langid rebuild from the scan (langid needs the helper
        # column quality drops); later steps extend the previous prefix
        cur = step(df) if name in ("scan", "quality", "langid") else step(base)
        with tracer.span(f"prefix.{name}"):
            walls[name] = _noop_wall(cur)
        base = cur
    return walls


def stage_metrics(walls: dict) -> dict:
    order = list(walls)
    out = {"scan.stage_s": walls["scan"]}
    for prev, name in zip(order, order[1:]):
        out[f"{name}.stage_s"] = walls[name] - walls[prev]
    return out
