"""Differential/property tests for the ext operators — the engine's
equivalent of the reference's GPU-vs-numpy gates
(precompute_similar_tracks.py:158-193): an independent reference
implementation recomputes each score and the engine must agree.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from pyspark.sql import functions as F

from tlmc_etl_spark.operators.dedup import MD5_60, XXHASH64, simhash_near_dupes
from tlmc_etl_spark.operators.fuzzy import hungarian_match_join, similarity
from tlmc_etl_spark.operators.vectors import chamfer_numpy
from tlmc_etl_spark.plans import QUERIES


@pytest.fixture(scope="module")
def embeddings_np(sf_dir):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, label, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    labels = np.array([r[1] for r in rows])
    M = np.array([r[2] for r in rows], dtype=np.float64)
    return ids, labels, M


def test_chamfer_matches_numpy_reference(spark, sf_dir, embeddings_np):
    ids, labels, M = embeddings_np
    got = {
        (r["group_a"], r["group_b"]): r["chamfer"]
        for r in QUERIES["chamfer_group_similarity"].fn(spark, sf_dir).collect()
    }
    assert len(got) == len(set(labels)) * (len(set(labels)) - 1) // 2
    max_err = 0.0
    for (a, b), engine_score in got.items():
        ref = chamfer_numpy(M[labels == a], M[labels == b])
        max_err = max(max_err, abs(engine_score - ref))
    assert max_err < 5e-3  # the reference's own gate bound


def test_chamfer_self_score_is_one(spark, sf_dir, embeddings_np):
    ids, labels, M = embeddings_np
    A = M[labels == 0]
    assert abs(chamfer_numpy(A, A) - 1.0) < 1e-9


def test_lsh_ann_recall_vs_exact(spark, sf_dir, embeddings_np):
    ids, labels, M = embeddings_np
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sim = Mn @ Mn.T
    np.fill_diagonal(sim, -np.inf)
    approx = QUERIES["lsh_ann_topk"].fn(spark, sf_dir).collect()
    by_anchor: dict[int, set[int]] = {}
    for r in approx:
        by_anchor.setdefault(r["anchor"], set()).add(r["neighbor"])
        # returned scores must be the true cosine (scoring is exact; only
        # the candidate set is approximate)
        ai = np.where(ids == r["anchor"])[0][0]
        ni = np.where(ids == r["neighbor"])[0][0]
        assert abs(sim[ai, ni] - r["score"]) < 1e-5
    recalls = []
    for ai, anchor in enumerate(ids):
        exact_top = set(ids[np.argsort(-sim[ai])[:10]].tolist())
        got = by_anchor.get(anchor, set())
        recalls.append(len(exact_top & got) / 10.0)
    assert np.mean(recalls) > 0.15  # 4-plane single-table LSH floor


def test_minhash_estimates_track_exact_jaccard(spark, sf_dir):
    pairs = QUERIES["minhash_lsh_prodhash"].fn(spark, sf_dir).collect()
    assert len(pairs) > 0
    con = duckdb.connect()
    texts = dict(
        con.execute(f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'").fetchall()
    )

    def bigrams(t):
        w = t.split(" ")
        return {f"{w[i]} {w[i+1]}" for i in range(len(w) - 1)}

    errs = []
    for r in pairs[:300]:
        a, b = bigrams(texts[r["id_a"]]), bigrams(texts[r["id_b"]])
        exact = len(a & b) / len(a | b)
        errs.append(abs(r["est_jaccard"] - exact))
    # 64-hash MinHash has σ≈sqrt(J(1-J)/64)≲0.06; candidates are LSH-biased
    # so allow a generous band but require convergence on average
    assert np.mean(errs) < 0.08
    assert np.max(errs) < 0.3


def test_simhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "totally different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    # identical docs share all four chunks, so the pair joins four times:
    # the first-matching-chunk filter must keep exactly one of those rows
    for hashes in (XXHASH64, MD5_60):
        rows = [
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_dupes(df, "doc_id", "text", 64, 64, hashes).collect()
        ]
        assert [r for r in rows if r[:2] == (1, 2)] == [(1, 2, 0)], (hashes, rows)
        assert len({r[:2] for r in rows}) == len(rows), (hashes, rows)


def test_hungarian_join_matches_perturbed_twins(spark):
    left = spark.createDataFrame(
        [(1, "a1", "silver moon waltz"), (1, "a2", "crimson night march"), (1, "a3", "emerald dawn hymn")],
        "grp long, pid string, title string",
    )
    right = spark.createDataFrame(
        [(1, "b2", "CRIMSON NIGHT MARCH!!"), (1, "b3", "emerald  dawn hymn"), (1, "b1", "silver moon waltz (inst)")],
        "grp long, pid string, title string",
    )
    rows = hungarian_match_join(left, right, "grp", "pid", "title", "pid", "title").collect()
    matches = {r["left_id"]: r["right_id"] for r in rows}
    assert matches == {"a1": "b1", "a2": "b2", "a3": "b3"}
    assert all(r["accepted"] for r in rows)


def test_hungarian_join_rejects_unrelated_group(spark):
    left = spark.createDataFrame([(9, "a1", "abcdefgh"), (9, "a2", "ijklmnop")], "grp long, pid string, title string")
    right = spark.createDataFrame([(9, "b1", "qrstuvwx"), (9, "b2", "yz012345")], "grp long, pid string, title string")
    rows = hungarian_match_join(left, right, "grp", "pid", "title", "pid", "title").collect()
    assert rows and not any(r["accepted"] for r in rows)


def test_similarity_is_symmetric_and_bounded():
    assert similarity("Silver Moon", "silver moon") == 100.0
    a, b = "abc def", "zzz qqq"
    assert similarity(a, b) == similarity(b, a)
    assert 0.0 <= similarity(a, b) < 50.0


def test_ivf_ann_recall_vs_exact(spark, sf_dir, embeddings_np):
    ids, labels, M = embeddings_np
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sim = Mn @ Mn.T
    np.fill_diagonal(sim, -np.inf)
    approx = QUERIES["ivf_ann_topk_kmeans"].fn(spark, sf_dir).collect()
    by_anchor: dict[int, set[int]] = {}
    for r in approx:
        by_anchor.setdefault(r["anchor"], set()).add(r["neighbor"])
        ai = np.where(ids == r["anchor"])[0][0]
        ni = np.where(ids == r["neighbor"])[0][0]
        assert abs(sim[ai, ni] - r["score"]) < 1e-5  # scores are exact cosine
    recalls = []
    for ai, anchor in enumerate(ids):
        exact_top = set(ids[np.argsort(-sim[ai])[:10]].tolist())
        recalls.append(len(exact_top & by_anchor.get(anchor, set())) / 10.0)
    # probing 4/16 cells of a clustered space recovers most true neighbors
    assert np.mean(recalls) > 0.5


def test_lsh_near_dup_recall_and_exactness_vs_all_pairs(spark, sf_dir):
    exact = {
        (r["keep_id"], r["dup_id"]): r["score"]
        for r in QUERIES["embedding_near_dup"].fn(spark, sf_dir).collect()
    }
    approx = QUERIES["embedding_near_dup_lsh_lowthr"].fn(spark, sf_dir).collect()
    got = {}
    for r in approx:
        key = (r["keep_id"], r["dup_id"])
        assert key not in got, f"pair {key} emitted twice (cross-table dedup broken)"
        got[key] = r["score"]
    # precision is 1.0 by construction (scoring is exact, same threshold)
    for key, s in got.items():
        assert key in exact
        assert abs(s - exact[key]) < 1e-9
    # OR-amplified recall gate — the production-form contract
    assert exact, "oracle produced no pairs; recall gate is vacuous"
    recall = len(got) / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f} < 0.95"


def test_lsh_hi_oracle_knobs_match_autosize():
    """embedding_near_dup_lsh_hi auto-sizes its knobs to the corpus, but
    its generated SQL oracle embeds hyperplane LITERALS for the knob
    values auto-sizing yields at the driver's oracle sf (0.01). This pins
    that agreement: if the sf0.01 corpus size or the auto-sizing formula
    changes, this fails BEFORE the driver's hash compare does."""
    import math

    import duckdb

    from tlmc_etl_spark.operators.vectors import auto_n_tables
    from tlmc_etl_spark.plans.curation2 import _LSH_HI_PLANES, _LSH_HI_TABLES

    n = duckdb.sql(
        "SELECT count(*) FROM '/root/testdata/sf0.01/embeddings.parquet'"
    ).fetchone()[0]
    n_planted = n + duckdb.sql(
        "SELECT count(*) FROM '/root/testdata/sf0.01/embeddings.parquet' "
        "WHERE vec_id % 10 = 0"
    ).fetchone()[0]
    planes = max(8, math.ceil(math.log2(max(n_planted, 1) / 8)))
    assert planes == _LSH_HI_PLANES, (
        f"auto-sized planes at sf0.01 is {planes}; oracle embeds {_LSH_HI_PLANES}"
    )
    tables = auto_n_tables(planes, 0.9)
    assert tables == _LSH_HI_TABLES, (
        f"auto-sized tables at sf0.01 is {tables}; oracle embeds {_LSH_HI_TABLES}"
    )


def test_lsh_near_dup_hi_threshold_recall_on_planted_dups(spark, sf_dir):
    # the 0.9-threshold design regime: exact reference recomputed in numpy
    # over the SAME planted corpus the query builds
    from tlmc_etl_spark.plans.ext import _plant_near_dups
    from tlmc_etl_spark.sources.tables import load_table

    corpus = _plant_near_dups(load_table(spark, sf_dir, "embeddings"))
    rows = corpus.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    iu, ju = np.nonzero((S >= 0.9) & (ids[:, None] < ids[None, :]))
    exact = {(int(ids[i]), int(ids[j])): S[i, j] for i, j in zip(iu, ju)}
    assert exact, "planting produced no >=0.9 pairs; regime test is vacuous"

    got = {}
    for r in QUERIES["embedding_near_dup_lsh_hi"].fn(spark, sf_dir).collect():
        key = (r["keep_id"], r["dup_id"])
        assert key not in got, f"pair {key} emitted twice"
        got[key] = r["score"]
    for key, s in got.items():
        assert key in exact, f"false positive {key} (scoring must be exact)"
        assert abs(s - exact[key]) < 1e-5
    recall = len(got) / len(exact)
    assert recall >= 0.95, f"hi-threshold recall {recall:.3f} < 0.95"


class TestTokenSetMatch:
    def test_reorder_invariance_and_bounds(self):
        from tlmc_etl_spark.operators.fuzzy import token_set_ratio

        assert token_set_ratio("small ring", "ring small") == 100.0
        assert token_set_ratio("Red Widget", "widget red") == 100.0
        assert token_set_ratio("abc", "abc") == 100.0
        a, b = "blue bolt", "green gear"
        assert token_set_ratio(a, b) == token_set_ratio(b, a)
        assert 0.0 <= token_set_ratio(a, b) < 90.0

    def test_join_scores_match_python_reference(self, spark):
        from tlmc_etl_spark.operators.fuzzy import token_set_match_join, token_set_ratio

        left = spark.createDataFrame(
            [
                (1, "spring peru powder"),
                (2, "powder peru spring lavender"),
                (3, "khaki rose"),
                (4, "rose khaki blush extra words beyond"),
            ],
            "id long, name string",
        )
        right = spark.createDataFrame(
            [
                (10, "peru powder spring"),
                (11, "spring lavender peru powder drab"),
                (12, "rose khaki"),
                (13, "unrelated colorless items"),
            ],
            "id long, name string",
        )
        got = token_set_match_join(left, right, "id", "name", "id", "name", threshold=60.0)
        for r in got.collect():
            # the JVM-decomposed score (length-bound prune + subset shortcut
            # + prebuilt-string matcher) must equal the Python reference
            ref = round(token_set_ratio(r["left_name"], r["right_name"]), 4)
            assert r["score"] == ref

    def test_blocked_join_equals_unblocked_brute_force(self, spark, sf_dir):
        """Differential gate: the token-blocked candidate join + JVM
        pruning cuts + subset shortcut must produce EXACTLY the winner
        set of an exhaustive |L|x|R| scoring pass with an independently
        written token_set_ratio (fresh difflib matchers over the three
        string pairs, no prebuilt-string reuse, no shortcuts).

        This is what `prop` could not prove: that no >threshold pair is
        lost to blocking (a winning pair sharing no normalized token) or
        to an over-eager length/char bound, and that no sub-threshold
        pair sneaks in. Reference semantics under test: best-score,
        lowest-id, strictly-above-90 winner per left row
        (thdb_album_scraper.py:17-21)."""
        import unicodedata
        from difflib import SequenceMatcher

        def ref_score(a: str, b: str) -> float:
            # independent spelling of the pinned spec: NFKC+lower,
            # alnum-token sets, max difflib ratio over (inter, full_a),
            # (inter, full_b), (full_a, full_b)
            def toks(s):
                s = unicodedata.normalize("NFKC", s).lower()
                return {
                    t
                    for t in "".join(c if c.isalnum() else " " for c in s).split()
                    if t
                }
            ta, tb = toks(a), toks(b)
            inter = " ".join(sorted(ta & tb))
            fa, fb = " ".join(sorted(ta)), " ".join(sorted(tb))
            best = 0.0
            for x, y in ((inter, fa), (inter, fb), (fa, fb)):
                if not (x or y):
                    continue
                sm = SequenceMatcher(None, x, y)
                # documented difflib upper bounds — exactness-preserving
                # speed cut for the exhaustive pass only
                if 100.0 * sm.real_quick_ratio() <= best:
                    continue
                if 100.0 * sm.quick_ratio() <= best:
                    continue
                best = max(best, 100.0 * sm.ratio())
            return best

        part = spark.read.parquet(f"{sf_dir}/part.parquet")
        alt_rows = (
            part.filter(F.col("p_partkey") % 7 == 0)
            .select(
                F.col("p_partkey").alias("alt_key"),
                F.concat(
                    F.split("p_name", " ").getItem(1),
                    F.lit(" "),
                    F.split("p_name", " ").getItem(0),
                ).alias("alt_name"),
            )
            .collect()
        )
        right_rows = part.select("p_partkey", "p_name").collect()
        threshold = 90.0
        expect = {}
        for l in alt_rows:
            best = None
            for r in right_rows:
                s = round(ref_score(l["alt_name"], r["p_name"]), 4)
                if s > threshold and (
                    best is None
                    or s > best[1]
                    or (s == best[1] and r["p_partkey"] < best[0])
                ):
                    best = (r["p_partkey"], s)
            if best is not None:
                expect[l["alt_key"]] = best
        got = {
            r["left_id"]: (r["right_id"], r["score"])
            for r in QUERIES["token_set_match"].fn(spark, sf_dir).collect()
        }
        assert got == expect, (
            f"blocked != brute force: missing={set(expect) - set(got)}, "
            f"extra={set(got) - set(expect)}, "
            f"diff={ {k: (got.get(k), expect.get(k)) for k in set(got) | set(expect) if got.get(k) != expect.get(k)} }"
        )

    def test_query_matches_reversed_names_exactly(self, spark, sf_dir):
        got = QUERIES["token_set_match"].fn(spark, sf_dir).collect()
        assert len(got) > 0
        for r in got:
            # every reversed name must match its own part at score 100
            if r["left_id"] == r["right_id"]:
                assert r["score"] == 100.0
        # each left id appears at most once (first-above-threshold contract)
        ids = [r["left_id"] for r in got]
        assert len(ids) == len(set(ids))


class TestConnectedComponents:
    @pytest.mark.parametrize("cap", [500_000, 0])  # driver path / distributed loop
    def test_min_label_components_on_known_graph(self, spark, cap):
        from tlmc_etl_spark.operators.graph import connected_components

        nodes = spark.createDataFrame([(i,) for i in range(1, 11)], "id long")
        # components: {1,2,3,4} (chain), {5,6,7} (triangle), singletons 8,9,10
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (7, 5)], "a long, b long"
        )
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                nodes, edges, "id", "a", "b", driver_edge_cap=cap
            ).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8, 9: 9, 10: 10}

    def test_driver_and_distributed_paths_agree_on_random_graphs(self, spark):
        """The adaptive cutover must be invisible: both paths emit identical
        (id, component) labels on arbitrary graphs, including long chains
        (worst case for round counts) and dense blobs."""
        import random

        from tlmc_etl_spark.operators.graph import connected_components

        rng = random.Random(20260814)
        for trial in range(3):
            n = rng.randint(20, 60)
            ids = rng.sample(range(1, 10_000), n)
            m = rng.randint(5, 2 * n)
            pairs = [tuple(rng.sample(ids, 2)) for _ in range(m)]
            # one long chain to force multi-round convergence
            chain = sorted(rng.sample(ids, min(12, n)), reverse=True)
            pairs += list(zip(chain, chain[1:]))
            nodes = spark.createDataFrame([(i,) for i in ids], "id long")
            edges = spark.createDataFrame(pairs, "a long, b long")
            out = {}
            for cap in (500_000, 0):
                out[cap] = {
                    r["id"]: r["component"]
                    for r in connected_components(
                        nodes, edges, "id", "a", "b", driver_edge_cap=cap
                    ).collect()
                }
            assert out[500_000] == out[0], f"trial {trial}: paths diverge"

    def test_cluster_query_invariants(self, spark, sf_dir):
        rows = QUERIES["doc_dedup_clusters"].fn(spark, sf_dir).collect()
        by_doc = {r["doc_id"]: r for r in rows}
        # every doc assigned exactly once; representative is the min id of
        # its own cluster; cluster id is always <= member id (min-label)
        assert len(by_doc) == len(rows)
        clusters: dict[int, list[int]] = {}
        for r in rows:
            assert r["cluster_id"] <= r["doc_id"]
            clusters.setdefault(r["cluster_id"], []).append(r["doc_id"])
        for cid, members in clusters.items():
            assert min(members) == cid
            assert by_doc[cid]["is_representative"]

    def test_minhash_clusters_consistent_with_their_pairs(self, spark, sf_dir):
        from tlmc_etl_spark.operators.dedup import minhash_near_dupes
        from tlmc_etl_spark.sources.tables import load_table

        clusters = {
            r["doc_id"]: r["cluster_id"]
            for r in QUERIES["minhash_clusters_prodhash"].fn(spark, sf_dir).collect()
        }
        docs = load_table(spark, sf_dir, "documents")
        pairs = minhash_near_dupes(
            docs, "doc_id", "text", n_hashes=64, n_bands=32, threshold=0.12
        ).collect()
        # the composition contract: every generated pair's endpoints share a
        # cluster, every doc is assigned, labels are min-of-component
        # (estimator ACCURACY is gated separately by the estimate tests —
        # threshold-adjacent pairs legitimately differ from exact Jaccard)
        assert len(clusters) == docs.count()
        for r in pairs:
            assert clusters[r["id_a"]] == clusters[r["id_b"]]
        members: dict[int, list[int]] = {}
        for d, c in clusters.items():
            assert c <= d
            members.setdefault(c, []).append(d)
        for c, ms in members.items():
            assert min(ms) == c


class TestSaltedJoinGuard:
    def test_dim_preserving_join_types_rejected(self, spark):
        # every dim row exists n_salts times under the salt, so a join that
        # emits unmatched dim rows would emit them n_salts times each —
        # the operator must refuse rather than silently multiply rows
        from tlmc_etl_spark.operators.skew import salted_join

        fact = spark.createDataFrame([(1, "a")], "hot_key int, row_uid string")
        dim = spark.createDataFrame([(1, "x")], "hot_key int, attr string")
        for how in ("right", "full", "outer", "right_outer"):
            with pytest.raises(ValueError, match="duplicate unmatched dim rows"):
                salted_join(fact, dim, "hot_key", "row_uid", how=how)

    def test_fact_preserving_types_still_equivalent(self, spark):
        from tlmc_etl_spark.operators.skew import salted_join

        fact = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "hot_key int, row_uid string"
        )
        dim = spark.createDataFrame([(1, "x"), (2, "y")], "hot_key int, attr string")
        for how in ("inner", "left", "left_semi", "left_anti"):
            got = sorted(
                map(tuple, salted_join(fact, dim, "hot_key", "row_uid", how=how).collect())
            )
            want = sorted(map(tuple, fact.join(dim, "hot_key", how).collect()))
            assert got == want, f"how={how} diverged from the unsalted join"


class TestAutoNTables:
    """auto_n_tables (round-6 ADVICE): OR depth must grow with key width
    so worst-pair recall HOLDS as auto-sized keys widen with the corpus,
    instead of decaying under a pinned L=6."""

    def test_predicted_miss_meets_target_across_corpus_sizes(self):
        import math

        from tlmc_etl_spark.operators.vectors import (
            auto_n_tables,
            table_catch_probability,
        )

        # key widths as auto-sized for corpora from 2k to 1e10 rows
        for n_planes in range(8, 31):
            L = auto_n_tables(n_planes, 0.9)
            P = table_catch_probability(n_planes, 0.9)
            assert (1 - P) ** L <= 0.05 + 1e-12, (n_planes, L)
            # and not wastefully deep: one fewer table would miss target
            if L > 1:
                assert (1 - P) ** (L - 1) > 0.05, (n_planes, L)

    def test_depth_grows_with_key_width(self):
        from tlmc_etl_spark.operators.vectors import auto_n_tables

        l13 = auto_n_tables(13, 0.9)  # ~50k-row corpus
        l27 = auto_n_tables(27, 0.9)  # ~1e9-row corpus
        assert l13 < l27
        assert l27 >= 30  # the n^rho cost the pinned L=6 was silently skipping

    def test_pinned_six_tables_would_miss_at_1e9(self):
        from tlmc_etl_spark.operators.vectors import table_catch_probability

        P = table_catch_probability(27, 0.9)
        assert (1 - P) ** 6 > 0.3  # pinned L=6 worst-pair recall < 70% at n~1e9

    def test_impossible_regime_raises(self):
        import pytest

        from tlmc_etl_spark.operators.vectors import auto_n_tables

        with pytest.raises(ValueError):
            auto_n_tables(200, 0.1)


@pytest.mark.skipif(
    not __import__("os").path.exists("/root/repo/benchdata/sf1/embeddings.parquet"),
    reason="benchdata/sf1 not generated (tools/gen_scale.py)",
)
def test_lsh_near_dup_hi_recall_gate_at_sf1(spark):
    """The recall gate BEYOND small sf (round-6 ADVICE): at sf1's 50k
    embeddings the auto-sized key is ~13 planes wide — wide enough that
    recall depends on the auto-chosen OR depth, not the old pinned L=6.
    _plant_near_dups pairs every 10th vec_id with vec_id + 1_000_000_000
    (cos ~= 0.98 >= 0.9), so the planted set is known without an exact
    all-pairs pass (2.5e9 pairs at this sf)."""
    from tlmc_etl_spark.sources.tables import load_table

    sf1 = "/root/repo/benchdata/sf1"
    planted = {
        (r["vec_id"], r["vec_id"] + 1_000_000_000)
        for r in load_table(spark, sf1, "embeddings")
        .filter("vec_id % 10 = 0")
        .select("vec_id")
        .collect()
    }
    assert planted
    sym = set()
    for r in QUERIES["embedding_near_dup_lsh_hi"].fn(spark, sf1).collect():
        sym.add((r["keep_id"], r["dup_id"]))
        sym.add((r["dup_id"], r["keep_id"]))
    recall = sum(1 for p in planted if p in sym) / len(planted)
    assert recall >= 0.95, f"sf1 planted recall {recall:.3f} < 0.95"


def test_planted_ids_disjoint_from_corpus_everywhere():
    """The +1e9 plant offset must clear every graded corpus's id space —
    the sf1 scale generator encodes ids as copy*10_000_000 + base_id, and
    the round-9 sf1 sweep caught the old +10M offset landing 600 planted
    ids on real copy-1 rows (engines diverge structurally on duplicate
    keys: DuckDB's per-id window partitions merge the collided rows,
    Spark's row-wise assignment does not). Pure-parquet check, no Spark."""
    import os

    dirs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    sf1 = os.path.join(os.path.dirname(__file__), "..", "benchdata", "sf1")
    if os.path.exists(os.path.join(sf1, "embeddings.parquet")):
        dirs.append(sf1)
    for d in dirs:
        n = duckdb.sql(
            f"""
            WITH base AS (SELECT vec_id FROM '{d}/embeddings.parquet')
            SELECT count(*) FROM base
            WHERE vec_id % 10 = 0 AND vec_id + 1000000000 IN (SELECT vec_id FROM base)
            """
        ).fetchone()[0]
        assert n == 0, f"{d}: {n} planted ids collide with corpus ids"


def test_semantic_dedup_finds_cohabiting_planted_pairs(spark):
    """Contract beyond oracle parity: every planted near-dup that lands in
    its source's cell MUST be dropped with dup_of <= source id (the
    earlier-id rule), and a planted vector may only survive by the
    documented SemDeDup cell-split miss — never while sharing a cell with
    its source. Kept rows without a plant stay kept."""
    from tlmc_etl_spark.plans import QUERIES

    out = QUERIES["semantic_dedup_clusters"].fn(spark, "/root/testdata/sf0.01").toPandas()
    by_id = out.set_index("vec_id")
    planted = out[out["vec_id"] >= 1_000_000_000]
    assert len(planted) > 0
    cohabiting = [
        int(v)
        for v in planted["vec_id"]
        if by_id.loc[v, "cell"] == by_id.loc[v - 1_000_000_000, "cell"]
    ]
    assert len(cohabiting) > 0, "no planted pair shares a cell — vacuous corpus"
    for v in cohabiting:
        assert not by_id.loc[v, "is_kept"], f"cohabiting plant {v} was kept"
        assert by_id.loc[v, "dup_of"] <= v - 1_000_000_000


def test_lsh_topk_routes_to_ivf_past_corpus_ceiling(spark, sf_dir, monkeypatch):
    """Round-15 scaling fix: the fixed-plane LSH top-k is quadratic in
    corpus size (the sf10 point measured 71 s at 8k vectors), so past
    LSH_TOPK_CORPUS_CEILING the operator must serve through the IVF
    quantizer — same output contract, occupancy-sized cells. Forced
    here by lowering the ceiling under the 500-row corpus."""
    import tlmc_etl_spark.operators.vectors as vectors
    from tlmc_etl_spark.operators.vectors import ivf_topk, lsh_topk
    from tlmc_etl_spark.sources.tables import load_table, table_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_row_count(f"{sf_dir}/embeddings.parquet")
    monkeypatch.setattr(vectors, "LSH_TOPK_CORPUS_CEILING", 100)
    routed = lsh_topk(emb, "vec_id", "embedding", n).orderBy("anchor", "rank")
    want = ivf_topk(
        emb, "vec_id", "embedding", k=10, n_centroids=16, n_probe=4
    ).orderBy("anchor", "rank")
    assert [tuple(r) for r in routed.collect()] == [
        tuple(r) for r in want.collect()
    ]
    # below the ceiling the LSH form is untouched (its SQL-replay oracle
    # stays the value check at the driver sf)
    monkeypatch.undo()
    lsh = lsh_topk(emb, "vec_id", "embedding", n)
    monkeypatch.setattr(vectors, "LSH_TOPK_CORPUS_CEILING", float("inf"))
    forced = lsh_topk(emb, "vec_id", "embedding", n)
    assert sorted(map(tuple, lsh.collect())) == sorted(map(tuple, forced.collect()))


def test_lsh_topk_ivf_takeover_recall_above_lsh_floor(spark):
    """Round-16 verdict item 5: the oracle contract narrows to the
    sub-ceiling regime (the SQL replay encodes the LSH candidate rule),
    so the TAKEOVER regime needs its own gate — at n > 4096 the routed
    IVF candidate set must hold at least the LSH form's own gated
    recall floor (0.15 mean@10, test_lsh_ann_recall_vs_exact)."""
    from tlmc_etl_spark.operators.vectors import LSH_TOPK_CORPUS_CEILING, lsh_topk

    rng = np.random.default_rng(7)
    n, dim = LSH_TOPK_CORPUS_CEILING + 304, 16
    # clustered corpus (50 centers + noise) so nearest-neighbor structure
    # is real rather than the isotropic-gaussian degenerate case
    centers = rng.normal(size=(50, dim))
    M = centers[rng.integers(0, 50, size=n)] + 0.3 * rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in M[i]]) for i in range(n)], "id long, vec array<double>"
    )
    routed = lsh_topk(df, "id", "vec", n)
    by_anchor: dict[int, set[int]] = {}
    for r in routed.collect():
        by_anchor.setdefault(r["anchor"], set()).add(r["neighbor"])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn.T
    np.fill_diagonal(sims, -np.inf)
    anchors = rng.choice(n, size=128, replace=False)
    recalls = []
    for ai in anchors:
        exact_top = set(np.argsort(-sims[ai])[:10].tolist())
        recalls.append(len(exact_top & by_anchor.get(int(ai), set())) / 10.0)
    mean_recall = float(np.mean(recalls))
    assert mean_recall > 0.15, (
        f"IVF takeover recall {mean_recall:.3f} below the LSH gated floor"
    )


def test_table_row_count_matches_footer(sf_dir):
    import duckdb

    from tlmc_etl_spark.sources.tables import table_row_count

    con = duckdb.connect()
    want = con.execute(f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'").fetchone()[0]
    assert table_row_count(f"{sf_dir}/embeddings.parquet") == want


def test_table_row_count_on_a_many_part_file_directory(spark, tmp_path):
    """A Spark-written directory table — 200 part files under a
    key=value partition directory, plus _SUCCESS and checksum files —
    counts from its footers exactly as Spark and DuckDB count it, and
    schedules no Spark job."""
    import glob

    import duckdb
    from pyspark.sql import functions as F

    from tlmc_etl_spark.sources.tables import table_row_count

    path = str(tmp_path / "many.parquet")
    spark.range(0, 2003, numPartitions=200).withColumn(
        "key", (F.col("id") % 2).cast("int")
    ).write.partitionBy("key").parquet(path)
    assert len(glob.glob(f"{path}/key=*/*.parquet")) >= 200
    assert glob.glob(f"{path}/_SUCCESS") and glob.glob(f"{path}/key=0/.*.crc")

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "footer-count")
    try:
        n = table_row_count(path)
        assert sc.statusTracker().getJobIdsForGroup("footer-count") == []
        assert spark.read.parquet(path).count() == n
        assert sc.statusTracker().getJobIdsForGroup("footer-count"), "group must see jobs"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    con = duckdb.connect()
    assert con.execute(f"SELECT count(*) FROM '{path}/**/*.parquet'").fetchone()[0] == n == 2003
