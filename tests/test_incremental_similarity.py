"""similarity_incremental_rebuild: the incremental ≡ full invariant is
the oracle (tests/test_oracle_parity.py); these tests pin what the
oracle alone cannot see — that the delta is NON-TRIVIAL (the changed
tracks' pooled vectors really move, so carrying them would have been
wrong), that carried edges are verbatim copies of the stored state, and
that the incremental half keeps its n × |changed| broadcast shape."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from tlmc_etl_spark.plans import QUERIES
from tlmc_etl_spark.plans.vectors import _SIM_DELTA_TRACKS, SIM_EDGE_TAU
from tlmc_etl_spark.sources.tables import load_table


def test_delta_actually_moves_the_changed_vectors(spark, sf_dir):
    # If the late chunks didn't change any pooled vector, the invariant
    # test would pass vacuously. Assert every delta track both exists in
    # the changed set and has old_pooled != new_pooled.
    from tlmc_etl_spark.pipelines.similarity import pooled_unit_mean

    emb = load_table(spark, sf_dir, "embeddings")
    chunks = emb.select(
        (F.col("vec_id") % 50).alias("track"), "vec_id", F.col("embedding").alias("vec")
    )
    late = (F.col("vec_id") % 11 == 0) & F.col("track").isin(*_SIM_DELTA_TRACKS)
    changed = {r["track"] for r in chunks.filter(late).select("track").distinct().collect()}
    assert changed == set(_SIM_DELTA_TRACKS), changed
    old = {
        r["track"]: r["pooled"]
        for r in pooled_unit_mean(chunks.filter(~late)).collect()
    }
    new = {
        r["track"]: r["pooled"]
        for r in pooled_unit_mean(chunks).collect()
    }
    for t in sorted(changed):
        diff = max(abs(a - b) for a, b in zip(old[t], new[t]))
        assert diff > 1e-6, f"track {t}: pooled vector did not move ({diff})"
    for t in sorted(set(old) - changed):
        assert old[t] == new[t], f"unchanged track {t} drifted"


def test_carried_edges_are_verbatim_and_disjoint_from_rescored(spark, sf_dir):
    rows = QUERIES["similarity_incremental_rebuild"].fn(spark, sf_dir).collect()
    assert rows
    changed = set(_SIM_DELTA_TRACKS)
    for r in rows:
        touches = r["anchor"] in changed or r["neighbor"] in changed
        assert r["carried"] == (not touches), r
        assert r["score"] >= SIM_EDGE_TAU
        assert r["anchor"] < r["neighbor"]
    # no duplicate edges across the carry/rescore union
    keys = [(r["anchor"], r["neighbor"]) for r in rows]
    assert len(keys) == len(set(keys))


def test_rescore_half_broadcasts_and_never_goes_all_pairs(spark, sf_dir):
    df = QUERIES["similarity_incremental_rebuild"].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the stored-state stand-ins are checkpointed OUT of this plan, so
    # everything visible here is the delta path: the |changed|-sized
    # sides must broadcast and nothing may expand to an n x n join
    # (the only nested-loop is n x |changed| against the broadcast side)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Broadcast" in plan, plan
