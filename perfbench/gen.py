"""Seeded input generators for the benchmark.

Everything here is numpy + pyarrow only: inputs are written as parquet
before an operation is timed, and the program under test sees nothing but
those files.  The same seed always gives the same bytes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 50_000
DOC_TOKENS = 120
EDIT_RATE = 0.05
N_CENTERS = 64


def derive_seed(seed: int, *parts) -> int:
    """Fold a run seed and any labels (workload, operation index) into one
    64-bit seed, so every operation gets its own input."""
    text = "|".join(str(p) for p in (seed, *parts))
    return int(hashlib.sha256(text.encode()).hexdigest()[:16], 16)


def vectors(n: int, dim: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """``(ids int64[n], emb float32[n, dim])``: clustered vectors with
    MiniLM-like norms (~5.5 +/- 15%), the corpus shape of
    ``tools/scale_bench.make_corpus``."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((N_CENTERS, dim)).astype(np.float32)
    cid = rng.integers(0, N_CENTERS, n)
    v = centers[cid] + 0.3 * rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v *= (5.5 * np.exp(0.15 * rng.standard_normal((n, 1)))).astype(np.float32)
    return np.arange(n, dtype=np.int64), v


def vector_table(ids: np.ndarray, emb: np.ndarray) -> pa.Table:
    n, dim = emb.shape
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    values = pa.array(np.ascontiguousarray(emb, dtype=np.float32).reshape(-1))
    return pa.table({"id": pa.array(ids), "emb": pa.ListArray.from_arrays(offsets, values)})


def docs(n_base: int, seed: int) -> tuple[np.ndarray, list[str], np.ndarray]:
    """Near-duplicate text corpus of ``2 * n_base`` documents.

    Half are base documents of :data:`DOC_TOKENS` tokens drawn uniformly from
    a :data:`VOCAB_SIZE`-word vocabulary; the other half are planted copies
    with each token replaced by a random word with probability
    :data:`EDIT_RATE`.  Doc ids are a seeded permutation.  Returns
    ``(doc_id int64[2n], texts, planted int64[n, 2])`` where each planted row
    is a ``(base id, copy id)`` family.
    """
    rng = np.random.default_rng(seed)
    base = rng.integers(0, VOCAB_SIZE, (n_base, DOC_TOKENS))
    copy = base.copy()
    edit = rng.random(copy.shape) < EDIT_RATE
    copy[edit] = rng.integers(0, VOCAB_SIZE, int(edit.sum()))
    ids = rng.permutation(2 * n_base).astype(np.int64)
    vocab = np.array([f"w{i:05d}" for i in range(VOCAB_SIZE)])
    texts = [" ".join(row) for row in vocab[np.concatenate([base, copy])]]
    planted = np.stack([ids[:n_base], ids[n_base:]], axis=1)
    return ids, texts, planted


def doc_table(ids: np.ndarray, texts: list[str]) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids), "text": pa.array(texts, type=pa.string())})


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)
