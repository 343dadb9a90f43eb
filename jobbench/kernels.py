"""Single-thread kernel micro-harness on a fixed seeded slice.

`*_kernel_*` times the row kernel alone; `*_udf_*` times the pandas UDF's
Python function plus the Arrow conversions PySpark does around it
(input Arrow array -> pandas, output pandas -> Arrow record batch), so
udf minus kernel is the list/pandas/Arrow assembly cost.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pyarrow as pa

TEXT_ROWS = 16_384
# WAV payloads average ~25 KB; 16k of them would hold ~400 MB in memory
AUDIO_ROWS = 2_048


def _us_per_row(fn, n: int, reps: int = 1) -> float:
    """Best of `reps` timed calls, in microseconds per row."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best / n * 1e6


def _arrow_udf(udf, return_type, *cols: pa.Array):
    """Emulate the Arrow boundary of a scalar pandas UDF."""
    from pyspark.sql.pandas.types import to_arrow_type

    series = [c.to_pandas() for c in cols]
    out = udf.func(*series)
    at = to_arrow_type(return_type)
    if isinstance(out, pd.DataFrame):
        arrays = [pa.array(out[f.name], type=f.type) for f in at]
        return pa.StructArray.from_arrays(arrays, fields=list(at))
    return pa.array(out, type=at)


def text_slice(seed: int) -> list[str]:
    from pii_redaction_pipeline_spark import datagen

    pdf = datagen.gen_rows(np.arange(TEXT_ROWS), seed=seed, with_audio=False)
    return list(pdf["transcript"])


def measure_text(texts: list[str], fuzzy_lookup: dict | None,
                 tracer) -> dict:
    from pii_redaction_pipeline_spark import core
    from pii_redaction_pipeline_spark.functions.langid import (
        LANGID_STRUCT,
        langid_udf,
    )
    from pii_redaction_pipeline_spark.functions.perplexity import ppl_udf
    from pii_redaction_pipeline_spark.functions.scrub import (
        make_detect_and_scrub,
    )
    from pii_redaction_pipeline_spark.schema import SCRUB_STRUCT
    from pyspark.sql import types as T

    n = len(texts)
    arr = pa.array(texts, type=pa.string())
    udf = make_detect_and_scrub(True, fuzzy_lookup)
    rows = [core.scrub_row(t, True, fuzzy_lookup) for t in texts]  # warm memo
    scrubbed = [r["scrubbed_text"] for r in rows]
    m = {}
    # best of 2: the udf-minus-kernel difference is a few us/row
    with tracer.span("kernels.scrub_row"):
        m["scrub.kernel_us_per_row"] = _us_per_row(
            lambda: [core.scrub_row(t, True, fuzzy_lookup) for t in texts],
            n, reps=2)
    with tracer.span("kernels.detect_and_scrub"):
        m["scrub.udf_us_per_row"] = _us_per_row(
            lambda: _arrow_udf(udf, SCRUB_STRUCT, arr), n, reps=2)
    with tracer.span("kernels.verify_counts"):
        m["scrub.verify_us_per_row"] = _us_per_row(
            lambda: [core.verify_counts(s) for s in scrubbed], n)
    with tracer.span("kernels.langid_udf"):
        m["langid.udf_us_per_row"] = _us_per_row(
            lambda: _arrow_udf(langid_udf, LANGID_STRUCT, arr), n)
    with tracer.span("kernels.ppl_udf"):
        m["ppl.udf_us_per_row"] = _us_per_row(
            lambda: _arrow_udf(ppl_udf, T.DoubleType(), arr), n)
    return m


def measure_decode(seed: int, tracer) -> dict:
    from pii_redaction_pipeline_spark import datagen
    from pii_redaction_pipeline_spark.functions.audio import decode_verify
    from pii_redaction_pipeline_spark.schema import DECODE_STRUCT

    pdf = datagen.gen_rows(np.arange(AUDIO_ROWS), seed=seed, with_audio=True)
    payload = pa.array(list(pdf["bytes"]), type=pa.binary())
    codec = pa.array(list(pdf["codec"]), type=pa.string())
    _arrow_udf(decode_verify, DECODE_STRUCT, payload, codec)  # warm
    with tracer.span("kernels.decode_verify"):
        us = _us_per_row(
            lambda: _arrow_udf(decode_verify, DECODE_STRUCT, payload, codec),
            AUDIO_ROWS)
    return {"audio.decode_us_per_row": us}
