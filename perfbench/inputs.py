"""Deterministic benchmark inputs.

The tables never depend on the seed, so every run measures the same
amount of work: the embeddings table is drawn from a fixed generator
with the shape of the project's sf0.1 table (2,000 unit-norm float32
vectors, d=64, labels 0-9). The seed decides only the op order of each
pass and the album order of each change journal.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
DIM = 64
ROWS = 2000


def embeddings_table(n_rows: int, seed: int = TABLE_SEED) -> pa.Table:
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n_rows, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_rows), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_rows), pa.int32()),
        }
    )


def write_sf_dir(sf_dir: str) -> str:
    """Write the benchmark's tables into `sf_dir` (a plan function's
    `sf_dir` argument) and return it."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(embeddings_table(ROWS), os.path.join(sf_dir, "embeddings.parquet"))
    return sf_dir


def op_order(ops: list[str], seed: int, pass_idx: int) -> list[str]:
    """The seed's permutation of `ops` for one pass."""
    order = list(ops)
    random.Random(f"{seed}/{pass_idx}").shuffle(order)
    return order


def write_journal(path: str, albums: list[tuple[str, str]], seed: int, pass_idx: int) -> None:
    """One change-journal line per album, in the seed's order."""
    order = sorted(albums)
    random.Random(f"{seed}/journal/{pass_idx}").shuffle(order)
    with open(path, "w") as fh:
        for circle, album in order:
            fh.write(json.dumps({"circle_dir": circle, "album_dir": album}) + "\n")
