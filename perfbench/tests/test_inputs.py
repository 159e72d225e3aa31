"""Determinism: the same seed gives identical inputs and op order."""

from __future__ import annotations

import json

from perfbench import inputs

ALBUMS = [(f"[Circle {i % 3}]", f"Album {i}") for i in range(50)]


def test_tables_are_identical_and_seed_independent(tmp_path):
    a = inputs.write_sf_dir(str(tmp_path / "a"))
    b = inputs.write_sf_dir(str(tmp_path / "b"))
    assert (tmp_path / "a" / "embeddings.parquet").read_bytes() == (
        tmp_path / "b" / "embeddings.parquet").read_bytes()
    table = inputs.embeddings_table(inputs.ROWS)
    assert table.num_rows == 2000
    assert a != b


def test_same_seed_same_op_order():
    ops = ["lifecycle_similar_shards", "two_stage_similarity", "similarity_incremental_rebuild"]
    for pass_idx in range(4):
        assert inputs.op_order(ops, 11, pass_idx) == inputs.op_order(ops, 11, pass_idx)
        assert sorted(inputs.op_order(ops, 11, pass_idx)) == sorted(ops)
    orders = {tuple(inputs.op_order(ops, seed, 0)) for seed in range(20)}
    assert len(orders) > 1  # the seed does permute


def test_same_seed_same_journal(tmp_path):
    paths = []
    for name, seed in (("x", 5), ("y", 5), ("z", 6)):
        path = tmp_path / f"{name}.jsonl"
        inputs.write_journal(str(path), list(reversed(ALBUMS)), seed, 0)
        paths.append(path)
    x, y, z = (p.read_bytes() for p in paths)
    assert x == y  # input order of the album list does not matter
    assert x != z
    rows = [json.loads(line) for line in x.decode().splitlines()]
    assert sorted((r["circle_dir"], r["album_dir"]) for r in rows) == sorted(ALBUMS)
