"""Connected components over a pair graph — the clustering step a
large-scale dedup pipeline runs AFTER near-dup pair generation (MinHash/
SimHash/exact-Jaccard pairs → clusters → keep one representative per
cluster).

Spark shape: iterative min-label propagation (the Pregel/small-star idea
reduced to DataFrame ops) with path halving. Each round a node adopts the
smallest label among itself and its neighbors, then labels compress one
pointer-jump (label := label-of-label), so convergence needs
O(log diameter) rounds instead of O(diameter); the final label IS the
smallest node id in the component, which makes results deterministic and
oracle-checkable (a recursive CTE computes the same closure in SQL).

Reference analogue: the artist deduplicator collapses alias groups onto one
preferred id (artist_deduplicator.py:30-73) — same collapse, generalized to
arbitrary similarity graphs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _driver_min_labels(sym: DataFrame) -> DataFrame:
    """Min-label closure of a SMALL symmetric edge table, on the driver.

    Same algorithm as the distributed loop (min-label propagation + path
    halving), vectorized in numpy: node ids compress to indices via a
    sorted unique array, each round takes the min label across edges
    (`np.minimum.at`) then pointer-jumps (`lab = lab[lab]`), so rounds are
    O(log diameter) and each is a few vectorized passes over the edge
    arrays — no per-edge Python loop. Because ids sort ascending, the min
    index in a component IS the min id, so results are bit-identical to
    the distributed path.

    Returns (a, label) for every edge-endpoint node.
    """
    pdf = sym.filter(F.col("a") < F.col("b")).toPandas()
    ids = np.unique(np.concatenate([pdf["a"].to_numpy(), pdf["b"].to_numpy()]))
    a = np.searchsorted(ids, pdf["a"].to_numpy())
    b = np.searchsorted(ids, pdf["b"].to_numpy())
    lab = np.arange(len(ids), dtype=np.int64)
    while True:
        new = lab.copy()
        np.minimum.at(new, a, lab[b])
        np.minimum.at(new, b, lab[a])
        new = new[new]
        if np.array_equal(new, lab):
            break
        lab = new
    out = pd.DataFrame({"a": ids, "label": ids[lab]})
    return sym.sparkSession.createDataFrame(out, schema="a long, label long")


# round cap of the distributed min-label loop
CC_MAX_ITER = 50


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    src_col: str,
    dst_col: str,
    driver_edge_cap: int = 500_000,
) -> DataFrame:
    """(id, component) for every node; component = min node id reachable.

    Per-round cost follows |edges|, not |corpus|: only edge-endpoint nodes
    can ever change labels, so the loop runs on that active subgraph and
    unions the untouched singletons back at the end. Three latency levers
    keep rounds cheap on small-to-mid graphs and scale-correct on huge
    ones:
     - the active tables repartition to a size-derived partition count
       (a 2k-node graph should not pay 32-task shuffles per round);
     - the convergence signal rides the label aggregation itself (the
       previous label is carried through the min-agg, so "changed" is a
       filter-count on the checkpointed result — no extra join);
     - one pointer-jump per round (label := label of label) gives the
       log-diameter round count.
    `localCheckpoint` cuts the growing lineage each round (on a cluster, a
    checkpoint dir or persisted intermediate table plays this role).

    Adaptive small-graph cutover: iterative loops pay a per-round job floor
    (scheduler latency) that dwarfs the actual work when the active edge
    set is small. When the symmetric edge table holds at most
    `driver_edge_cap` undirected edges (cap × 16 bytes — 8 MB at the
    default, an explicitly bounded collect like the codebook train caps),
    the closure runs on the driver via the numpy form of the SAME
    min-label + path-halving algorithm (`_driver_min_labels`) and the loop
    is skipped entirely. Above the cap — the 100 TB regime — the
    distributed loop runs unchanged. Both paths emit identical labels
    (min node id per component; property-tested against each other in
    tests/test_ext_operators.py).
    """
    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    # Symmetrize in ONE pass over the edge subtree: explode each edge into
    # both directions. The union-of-two-selects form put the (expensive)
    # pair-generation subtree into the plan twice — ReuseExchange does not
    # reliably dedupe the branches under AQE replanning, so pair mining ran
    # per branch (measured: the r15 job trace showed the LSH estimate
    # stages materializing twice per CC consumer).
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("__s")
        )
        .select("__s.a", "__s.b")
        .distinct()
        .persist()
    )
    all_ids = nodes.select(F.col(id_col).alias("a"))

    # One job decides the path AND materializes the persisted edge table,
    # so the driver path's toPandas is a pure cache read. The driver path
    # needs none of the endpoint/active machinery below — its label table
    # already enumerates every edge-endpoint node, and the singleton
    # anti-join broadcasts that (cap-bounded) table. With the driver path
    # disabled (cap=0, the forced-distributed form) the count job is
    # skipped outright — every driver round-trip in this operator is a
    # per-iteration constant the 100 TB path pays too.
    if driver_edge_cap > 0 and sym.count() <= 2 * driver_edge_cap:
        labels = _driver_min_labels(sym)
        singletons = all_ids.join(labels.select("a"), "a", "left_anti").select(
            "a", F.col("a").alias("label")
        )
        sym.unpersist()
        return labels.unionByName(singletons).select(
            F.col("a").alias(id_col), F.col("label").alias("component")
        )

    # The endpoint set is checkpointed because it outlives sym's cache: the
    # returned DataFrame is lazy, and a post-unpersist consumer of sym
    # would silently recompute the whole upstream pair pipeline.
    endpoints = sym.select("a").distinct().localCheckpoint(eager=True)
    n_active = endpoints.count()
    sc = edges.sparkSession.sparkContext
    n_parts = max(2, min(sc.defaultParallelism, n_active // 50_000 + 2))

    active = all_ids.join(endpoints, "a", "left_semi")
    sym_p = sym.repartition(n_parts, "a").persist()
    # Lazy: round 1's convergence count materializes this together with
    # its own work — an eager checkpoint here would be one more job on
    # the loop's latency floor.
    labels = (
        active.select("a", F.col("a").alias("label"))
        .repartition(n_parts, "a")
        .localCheckpoint(eager=False)
    )
    for _ in range(CC_MAX_ITER):
        nbr = sym_p.join(labels, "a").select(
            F.col("b").alias("a"), "label", F.lit(None).cast("long").alias("old")
        )
        own = labels.select("a", "label", F.col("label").alias("old"))
        # LAZY checkpoint: the convergence count below materializes `new`
        # anyway, so the lineage cut rides that same job — an eager
        # checkpoint here would run one extra job per round, and round
        # latency is exactly what bounds this loop at small scale.
        new = (
            own.unionByName(nbr)
            .groupBy("a")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
            .localCheckpoint(eager=False)
        )
        changed = new.filter(F.col("label") != F.col("old")).count()
        merged = new.select("a", "label")
        if changed == 0:
            labels = merged
            break
        # path halving: label := label(label) — the label is itself an
        # active node id, so the self-join resolves every pointer one hop.
        # Lazy checkpoint again: next round's convergence count (or the
        # caller's action) materializes it.
        #
        # MEASURED AND REJECTED (round 16): batching a second pointer
        # jump into the same lazy plan (label(label(label(a))) per
        # round) was expected to halve the round count. A/B on the
        # forced-distributed stress twin: jobs 57 -> 63, wall flat —
        # rounds did NOT drop (3 either way) because on dense dedup
        # graphs the MIN-LABEL propagation step bounds convergence, not
        # pointer depth, so the extra join only added its own AQE
        # stage-materialization jobs every round. Chain-diameter graphs
        # would benefit, but this operator's production graphs are
        # near-duplicate blobs.
        lbl_of = merged.select(F.col("a").alias("l_a"), F.col("label").alias("l_label"))
        labels = (
            merged.join(lbl_of, merged["label"] == lbl_of["l_a"])
            .select("a", F.col("l_label").alias("label"))
            .localCheckpoint(eager=False)
        )
    singletons = all_ids.join(endpoints, "a", "left_anti").select(
        "a", F.col("a").alias("label")
    )
    sym.unpersist()
    sym_p.unpersist()
    return labels.unionByName(singletons).select(
        F.col("a").alias(id_col), F.col("label").alias("component")
    )
