"""Seeded, Spark-free input generation for the benchmark.

The pipeline input is the closed-form skewed ``sequences`` table of
``repurpose_spark.sources.synthetic`` (doc ``i`` has ``64 + i % 193``
tokens, plus 16384 when ``i % 101 == 0``; token ``j`` is
``(31 i + 7 j) % 50257``), written with pyarrow so that the same seed
always gives byte-identical parquet files.  The seed moves the doc-id
window, and with it which docs are giant.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = np.array(["web", "books", "code", "wiki"])
GIANT_EVERY = 101
GIANT_EXTRA = 16384


def doc_offset(seed: int) -> int:
    """First doc id of a seed's window.  The giant docs (multiples of
    101) sit at a seed-dependent phase of the window."""
    return (seed * 104_729) % 900_000 + 1


def n_tokens(ids: np.ndarray) -> np.ndarray:
    n = 64 + ids % 193
    return np.where(ids % GIANT_EVERY == 0, n + GIANT_EXTRA, n)


def closed_form_tokens(offset: int, n_docs: int) -> int:
    """Token count of docs ``offset .. offset + n_docs - 1``."""
    return int(n_tokens(np.arange(offset, offset + n_docs, dtype=np.int64)).sum())


def sequences_table(ids: np.ndarray) -> pa.Table:
    n_tok = n_tokens(ids).astype(np.int32)
    offsets = np.zeros(len(ids) + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    doc = np.repeat(ids, n_tok)
    pos = np.arange(offsets[-1], dtype=np.int64) - np.repeat(
        offsets[:-1].astype(np.int64), n_tok
    )
    tokens = ((doc * 31 + pos * 7) % VOCAB).astype(np.int32)
    return pa.table(
        {
            "doc_id": pa.array([f"doc{i:08d}" for i in ids.tolist()]),
            "tokens": pa.ListArray.from_arrays(offsets, tokens),
            "n_tok": pa.array(n_tok),
            "source": pa.array(SOURCES[ids % 4]),
        }
    )


def write_sequences(
    out_dir: str, offset: int, n_docs: int, n_files: int, prefix: str = "part"
) -> list:
    """Write docs ``offset ..`` as ``n_files`` parquet files; returns paths."""
    os.makedirs(out_dir, exist_ok=True)
    ids = np.arange(offset, offset + n_docs, dtype=np.int64)
    paths = []
    for k, chunk in enumerate(np.array_split(ids, n_files)):
        path = os.path.join(out_dir, f"{prefix}-{k:05d}.parquet")
        pq.write_table(sequences_table(chunk), path, compression="zstd")
        paths.append(path)
    return paths


def files_digest(paths: list) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


M64 = (1 << 64) - 1
P1, P2, P3, P4, P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * P2) & M64, 31) * P1 & M64


def xxhash64(s: str, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of one string column (XXH64 of its UTF-8
    bytes, seed 42), as a signed 64-bit value."""
    data = s.encode()
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + P1 + P2) & M64, (seed + P2) & M64, seed, (seed - P1) & M64]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i:i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & M64
        for lane in v:
            h = ((h ^ _round(0, lane)) * P1 + P4) & M64
    else:
        h = (seed + P5) & M64
    h = (h + n) & M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * P1 + P4) & M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * P1 & M64
        h = (_rotl(h, 23) * P2 + P3) & M64
        i += 4
    for byte in data[i:]:
        h ^= byte * P5 & M64
        h = _rotl(h, 11) * P1 & M64
    h ^= h >> 33
    h = h * P2 & M64
    h ^= h >> 29
    h = h * P3 & M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def cell_of(doc_id: str, n_cells: int) -> int:
    """``pmod(xxhash64(doc_id), n_cells)``: the cell a doc lands in."""
    return xxhash64(doc_id) % n_cells


def leaf_order(names: list, seed: int) -> list:
    order = list(names)
    random.Random(seed).shuffle(order)
    return order
