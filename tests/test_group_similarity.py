"""Differential gates for the three-score group similarity and chunk-IDF
weighting — the reference's own exit-on-violation invariants
(precompute_similar_groups.py:238-256: symmetry ≤5e-3, self-score ≈1) plus
value parity against an independent numpy recompute."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from tlmc_etl_spark.operators.group_similarity import (
    estimate_chunk_weights_numpy,
    three_scores_numpy,
)
from tlmc_etl_spark.operators.vectors import chamfer_numpy
from tlmc_etl_spark.plans import QUERIES

GATE = 5e-3  # the reference's own bound


@pytest.fixture(scope="module")
def members_np(sf_dir):
    """The exact member sets the registered query builds: embeddings plus
    every 5th vector planted into the next label group."""
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, label, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    groups: dict[int, list] = {}
    for vid, lbl, v in rows:
        groups.setdefault(lbl, []).append((vid, np.array(v, dtype=np.float64)))
        if vid % 5 == 0:
            groups.setdefault((lbl + 1) % 10, []).append(
                (vid + 1_000_000, np.array(v, dtype=np.float64))
            )
    out = {}
    pad = 64
    for g, m in groups.items():
        vecs = [v for _, v in sorted(m)]
        if len(vecs) > pad:
            # the engine's uniform pick: round-half-up(i*(n-1)/(pad-1))
            picks = [int(np.floor(i * (len(vecs) - 1) / (pad - 1) + 0.5)) for i in range(pad)]
            vecs = [vecs[p] for p in picks]
        out[g] = np.stack(vecs)
    return out


@pytest.fixture(scope="module")
def result(spark, sf_dir):
    return QUERIES["group_three_score_similarity"].fn(spark, sf_dir).collect()


def _ref_gamma(members_np):
    """Replicates calibrate_pair_gamma exactly: all (a<b) pairs sampled
    (45 < 1024 cap), median over every cross-pair member distance."""
    dists = []
    gids = sorted(members_np)
    for i, a in enumerate(gids):
        for b in gids[i + 1 :]:
            A = members_np[a] / np.linalg.norm(members_np[a], axis=1, keepdims=True)
            B = members_np[b] / np.linalg.norm(members_np[b], axis=1, keepdims=True)
            dists.append((1.0 - A @ B.T).ravel())
    med = float(np.median(np.concatenate(dists)))
    return 1.0 / max(med, 1e-4)


class TestThreeScore:
    def test_gamma_matches_median_heuristic(self, result, members_np):
        assert abs(result[0]["kde_gamma"] - _ref_gamma(members_np)) < 1e-2

    def test_all_three_scores_match_numpy(self, result, members_np):
        gamma = _ref_gamma(members_np)
        max_err = 0.0
        for r in result:
            raw, style, kde = three_scores_numpy(
                members_np[r["group_a"]], members_np[r["group_b"]], 0.9985, gamma
            )
            max_err = max(
                max_err,
                abs(r["score_raw"] - raw),
                abs(r["score_style"] - style),
                abs(r["score_kde"] - kde),
            )
        assert max_err < GATE

    def test_planted_dups_demote_style_not_raw(self, result):
        """(l, l+1) pairs share identical members: raw must see them
        (score near the dup ceiling on that member), style must not."""
        by_pair = {(r["group_a"], r["group_b"]): r for r in result}
        for a in range(10):
            b = (a + 1) % 10
            r = by_pair[(min(a, b), max(a, b))]
            assert r["score_style"] < r["score_raw"]

    def test_clean_pairs_style_equals_raw(self, result, members_np):
        """Pairs with no member cosine ≥ dup_thresh must score style == raw."""
        checked = 0
        for r in result:
            A = members_np[r["group_a"]]
            B = members_np[r["group_b"]]
            An = A / np.linalg.norm(A, axis=1, keepdims=True)
            Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
            if (An @ Bn.T).max() < 0.9985:
                assert r["score_style"] == r["score_raw"]
                checked += 1
        assert checked > 0

    def test_symmetry_and_self_scores(self, members_np):
        """The reference's check_symmetry invariants on the numpy kernel the
        engine executes: swap-symmetric to fp noise, raw/kde self-score 1."""
        gamma = _ref_gamma(members_np)
        gids = sorted(members_np)
        for a, b in [(gids[0], gids[3]), (gids[2], gids[7])]:
            ab = three_scores_numpy(members_np[a], members_np[b], 0.9985, gamma)
            ba = three_scores_numpy(members_np[b], members_np[a], 0.9985, gamma)
            assert max(abs(x - y) for x, y in zip(ab, ba)) < 1e-9
        raw, _, kde = three_scores_numpy(members_np[gids[0]], members_np[gids[0]], 0.9985, gamma)
        assert abs(raw - 1.0) < 1e-9
        assert abs(kde - 1.0) < 1e-9

    def test_results_stable_under_repartition(self, spark, sf_dir, result, monkeypatch):
        """Subsample picks key on the explicit order column — layout must
        not change any score (pad forced below group size to bind)."""
        import tlmc_etl_spark.operators.group_similarity as gs
        from tlmc_etl_spark.sources.tables import load_table

        monkeypatch.setattr(gs, "PAD", 4)
        monkeypatch.setattr(gs, "calibrate_pair_gamma", lambda pairs: 25.0)
        emb = load_table(spark, sf_dir, "embeddings")
        members = emb.select("label", "vec_id", "embedding")
        outs = []
        for n_parts in (2, 5):
            df = gs.three_score_group_similarity(
                members.repartition(n_parts), "label", "embedding", order_col="vec_id"
            )
            outs.append(sorted(tuple(r) for r in df.collect()))
        assert outs[0] == outs[1]


class TestBridgeRollup:
    def test_collab_release_contributes_to_both_circles(self, spark, sf_dir):
        """Removing the collab arm of the bridge must change the scores of
        pairs involving the collab's second circle — i.e. a shared release
        provably feeds more than one rollup."""
        import duckdb as _dd

        con = _dd.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
        )
        full_sql = QUERIES["bridge_rollup_centroid_similarity"].oracle
        single_sql = full_sql.replace(
            "UNION ALL\n  SELECT release, (release + 1) % 7 AS circle FROM rels WHERE release % 10 = 0",
            "",
        )
        full = {tuple(r[:2]): r[2] for r in con.execute(full_sql).fetchall()}
        single = {tuple(r[:2]): r[2] for r in con.execute(single_sql).fetchall()}
        assert full.keys() == single.keys()
        assert any(abs(full[k] - single[k]) > 1e-6 for k in full), (
            "collab bridge rows had no effect — the rollup is not many-to-many"
        )

    def test_engine_matches_oracle(self, spark, sf_dir, duck):
        got = sorted(
            tuple(r)
            for r in QUERIES["bridge_rollup_centroid_similarity"].fn(spark, sf_dir).collect()
        )
        ref = sorted(
            tuple(r)
            for r in duck.execute(QUERIES["bridge_rollup_centroid_similarity"].oracle).fetchall()
        )
        assert len(got) == len(ref) == 21  # C(7,2)
        for g, r in zip(got, ref):
            assert g[:2] == r[:2]
            assert abs(g[2] - r[2]) < 2e-6


class TestChunkIDF:
    def test_weights_match_numpy(self, spark, sf_dir):
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
        ).fetchall()
        M = np.array([r[1] for r in rows], dtype=np.float64)
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        ids = np.array([r[0] for r in rows])
        got = {r["id"]: r["weight"] for r in QUERIES["chunk_idf_weights"].fn(spark, sf_dir).collect()}
        # background cap (100k) exceeds the table: background = all vectors
        for track in range(50):
            sel = ids % 50 == track
            ref = estimate_chunk_weights_numpy(M[sel], Mn)
            for vid, w in zip(ids[sel], ref):
                assert abs(got[vid] - w) < 1e-5

    def test_weights_bounded_and_generic_downweighted(self, spark, sf_dir):
        rows = QUERIES["chunk_idf_weights"].fn(spark, sf_dir).collect()
        assert all(0.0 < r["weight"] <= 1.0 for r in rows)

    def test_weighted_chamfer_uniform_weights_is_plain_chamfer(self):
        rng = np.random.default_rng(11)
        A, B = rng.standard_normal((6, 16)), rng.standard_normal((9, 16))
        plain = chamfer_numpy(A, B)
        w = chamfer_numpy(A, B, np.ones(6), np.ones(9))
        assert plain == w

    def test_weighted_chamfer_downweights_generic_chunk(self):
        rng = np.random.default_rng(12)
        B = rng.standard_normal((8, 16))
        # query: one chunk identical to a B chunk (match=1), one orthogonal-ish
        A = np.stack([B[0], rng.standard_normal(16)])
        lo = chamfer_numpy(A, B, np.array([0.1, 1.0]), None)
        hi = chamfer_numpy(A, B, np.array([1.0, 0.1]), None)
        assert lo < hi
