"""Seeded input generation for the workloads.

Every table is a pure function of (workload, seed) and is written as
parquet files under the run's input dir; the job under test sees only
those files. Pipeline inputs are written one file per core, the layout a
production table of many row groups gives the scan (a single file would
scan as one task).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# rows per input (one warm job is a few seconds on 4 cores)
N_TEXT = 12_000
N_AUDIO = 2_400
N_DOCS = 2_000
N_VECS = 2_000
EMB_DIM = 64
# shrinks every input (the benchmark's own smoke tests use 0.1)
SCALE = float(os.environ.get("JOBBENCH_SCALE", "1"))


@dataclass
class Inputs:
    root: Path          # clips/, or the dir holding documents/embeddings
    n_rows: int         # rows the job processes (clips or documents)


def _write_files(table: pa.Table, out: Path, n_files: int) -> None:
    out.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       out / f"part-{k:05d}.parquet")


def _clips_table(pdf: pd.DataFrame) -> pa.Table:
    from pyspark.sql.pandas.types import to_arrow_schema

    from pii_redaction_pipeline_spark.schema import CLIPS_SCHEMA
    return pa.Table.from_pandas(pdf, schema=to_arrow_schema(CLIPS_SCHEMA),
                                preserve_index=False)


def make_clips_inputs(workload: str, seed: int, root: Path,
                      n_files: int) -> Inputs:
    """datagen clips: text-only (scrub_text, null payloads) or with WAV
    payloads (audio_clips, ~1 % undecodable opus rows)."""
    from pii_redaction_pipeline_spark import datagen

    audio = workload == "audio_clips"
    n = int((N_AUDIO if audio else N_TEXT) * SCALE)
    pdf = datagen.clips_pandas(n, seed=seed, with_audio=audio)
    _write_files(_clips_table(pdf), root / "clips", n_files)
    return Inputs(root / "clips", len(pdf))


# --- dedup_neardup: documents + embeddings with planted duplicates ---------

def _vocab(rng: np.random.Generator, n: int = 3000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=n)
    return np.array(["".join(rng.choice(letters, size=k)) for k in lens])


def documents(seed: int, n: int = N_DOCS) -> pd.DataFrame:
    """Word-soup documents; 10 % exact copies of an earlier document and
    10 % near copies (2 of ~60 words replaced)."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.10:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.20:
            words = texts[int(rng.integers(0, i))].split()
            for k in rng.integers(0, len(words), size=2):
                words[k] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(30, 90))
            texts.append(" ".join(rng.choice(vocab, size=k)))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{i % 10}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed: int, n: int = N_VECS, dim: int = EMB_DIM) -> pd.DataFrame:
    """Gaussian vectors; 10 % are a base vector plus small noise
    (cosine > 0.99)."""
    rng = np.random.default_rng([seed, 2])
    vecs = rng.normal(size=(n, dim))
    for i in range(11, n):
        if rng.random() < 0.10:
            vecs[i] = vecs[int(rng.integers(0, i))] + \
                0.02 * rng.normal(size=dim)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.3)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": rng.integers(0, 4, size=n).astype(np.int32),
    })


def make_dedup_inputs(seed: int, root: Path, n_files: int,
                      scale: float = 1.0) -> Inputs:
    """The dedup/ANN corpus: documents + embeddings tables; `scale` < 1
    gives the same-shaped warm-up corpus."""
    docs = documents(seed, int(N_DOCS * SCALE * scale))
    emb = embeddings(seed, int(N_VECS * SCALE * scale))
    _write_files(pa.Table.from_pandas(docs, preserve_index=False),
                 root / "documents.parquet", n_files)
    emb_table = pa.table({
        "vec_id": pa.array(emb["vec_id"]),
        "embedding": pa.array([v.tolist() for v in emb["embedding"]],
                              type=pa.list_(pa.float32())),
        "label": pa.array(emb["label"]),
    })
    _write_files(emb_table, root / "embeddings.parquet", 1)
    return Inputs(root, len(docs))

