"""Physical-plan quality gates: the scale contract, asserted.

Correctness tests prove the operators compute the right rows; these prove
Catalyst produced the plan we designed for 100 TB — filters reaching the
parquet scan, columns pruned to the projection, small dimensions broadcast
instead of shuffled, the gap-fill rewrite staying at ONE shuffle, and hot
relational paths inside WholeStageCodegen. A regression that keeps results
correct but, say, drops a pushed filter or turns a broadcast join into a
sort-merge join fails here, not in production.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from tlmc_etl_spark.plans import QUERIES


def plan_of(spark, sf_dir, name: str, mode: str = "formatted") -> str:
    df = QUERIES[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


class TestPushdownAndPruning:
    def test_pricing_summary_pushes_filter_to_scan(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "pricing_summary")
        assert "PushedFilters: [" in plan
        # the shipdate predicate must reach the parquet reader, not sit in a
        # post-scan Filter only
        assert "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]

    def test_storage_key_relativize_prunes_columns(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "storage_key_relativize")
        read_schema = plan.split("ReadSchema")[1].splitlines()[0]
        # projection needs 4 of part's 6 columns; the scan must not read more
        assert "p_size" not in read_schema
        assert "p_retailprice" not in read_schema

    def test_topk_reads_only_needed_lineitem_columns(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "topk_per_group")
        read_schema = plan.split("ReadSchema")[1].splitlines()[0]
        assert "l_comment" not in read_schema and "l_tax" not in read_schema


class TestJoinStrategy:
    def test_three_way_enrich_broadcasts_small_dims(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "three_way_enrich")
        assert "BroadcastHashJoin" in plan, "small dims must broadcast, not shuffle"
        assert "SortMergeJoin" not in plan

    def test_semi_and_anti_joins_stay_broadcast(self, spark, sf_dir):
        for name in ("semi_join_gather", "anti_join_audit"):
            plan = plan_of(spark, sf_dir, name)
            assert "Broadcast" in plan, f"{name}: expected a broadcast-side join"


class TestShuffleBudget:
    def test_gap_fill_numbering_is_single_shuffle(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "gap_fill_numbering", mode="simple")
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges == 1, f"gap-fill rewrite contract: 1 shuffle, saw {n_exchanges}"

    def test_pricing_summary_is_single_shuffle(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "pricing_summary", mode="simple")
        assert plan.count("Exchange hashpartitioning") == 1

    def test_archive_size_audit_is_single_agg_shuffle(self, spark, sf_dir):
        """The archive byte audit must stay fanout → mapInPandas →
        ONE hash exchange for the per-archive groupBy (+ the output
        sort): archive_key is one-group-per-archive, so the agg
        distributes with no second shuffle at any corpus size."""
        plan = plan_of(spark, sf_dir, "archive_size_audit", mode="simple")
        assert plan.count("Exchange hashpartitioning") == 1


class TestCodegen:
    @pytest.mark.parametrize("name", ["pricing_summary", "mode_vote", "rule_classifier_cascade"])
    def test_hot_paths_are_codegened(self, spark, sf_dir, name):
        # AQE finalizes codegen at runtime, so execute the plan, then check
        # the finalized adaptive plan for WholeStageCodegen stage markers
        # ("*(n)" prefixes); none would mean the hot path fell back to
        # interpreted row-at-a-time execution.
        df = QUERIES[name].fn(spark, sf_dir)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in executed, f"{name}: no WholeStageCodegen stage in executed plan"


class TestParallelismConfig:
    def test_aqe_coalescing_stays_default_session_wide(self, spark):
        # The r2 session-wide minPartitionSize=1b/parallelismFirst override
        # fanned EVERY tiny shuffle to 32+ tasks and regressed the pure-JVM
        # relational suite 2-4x at sf0.1. The session must keep Spark's
        # byte-based defaults; CPU-heavy Python stages opt out per-plan.
        assert spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m"
        ) != "1b"
        assert spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
        ) != "true"

    @pytest.mark.parametrize(
        "name", ["fuzzy_hungarian_match", "mirror_duration_dedup", "lcp_pairing_join"]
    )
    def test_python_group_stages_pin_parallelism(self, spark, sf_dir, name):
        # CPU-bound applyInPandas over a byte-tiny shuffle: the plan must
        # carry a user-specified repartition (REPARTITION_BY_NUM), which AQE
        # never coalesces — otherwise the stage collapses to one task
        # (measured 8x slowdown on the Hungarian match at sf0.1).
        plan = plan_of(spark, sf_dir, name, mode="simple")
        assert "REPARTITION_BY_NUM" in plan, f"{name}: Python stage lost its fanout"

    def test_ivf_pq_ships_codes_not_vectors_and_fans_out(self, spark, sf_dir):
        # the candidate side of the cell join must carry codes (m ints),
        # never the embedding column; the ADC scorer pins parallelism
        plan = plan_of(spark, sf_dir, "ivf_pq_topk_kmeans", mode="simple")
        assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan
        assert "REPARTITION_BY_NUM" in plan, "ADC stage lost its fanout"


class TestArtworkPlans:
    def test_variant_ladder_broadcasts_rung_table(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "artwork_variant_ladder")
        assert "SortMergeJoin" not in plan, "3-row rung table must broadcast"

    def test_dominant_colors_shuffle_budget(self, spark, sf_dir):
        # quantize+count then gather: two aggregations over the same image
        # key space — anything beyond 2 exchanges is a plan regression
        plan = plan_of(spark, sf_dir, "dominant_colors_palette", mode="simple")
        n = plan.count("Exchange hashpartitioning")
        assert n <= 2, f"palette assembly grew to {n} shuffles"


class TestServingPlans:
    @pytest.mark.parametrize("name", ["substring_search_topk", "kde_density_grid"])
    def test_small_side_broadcasts_not_shuffles(self, spark, sf_dir, name):
        # term batch / evaluation grid are the tiny sides by construction:
        # they must ride a broadcast, never a CartesianProduct shuffle
        plan = plan_of(spark, sf_dir, name, mode="simple")
        assert "CartesianProduct" not in plan, f"{name}: small side must broadcast"
        assert "Broadcast" in plan


class TestRecallPruning:
    def test_chamfer_group_pairs_are_pruned_not_crossed(self, spark, sf_dir):
        # the registered chamfer query must score recall candidates via
        # equi-joins; an all-pairs group_a < group_b join would show up as
        # a nested-loop join and explode quadratically at corpus scale
        plan = plan_of(spark, sf_dir, "chamfer_group_similarity", mode="simple")
        assert "NestedLoopJoin" not in plan, "chamfer pair list must come from recall"
        assert "CartesianProduct" not in plan


class TestMapOnlyStages:
    @pytest.mark.parametrize("name", ["doc_chunking", "corpus_mix_sample"])
    def test_no_shuffle_at_all(self, spark, sf_dir, name):
        # both are contract-map-only: chunking is a row-local explode,
        # mixing is a hash filter — a shuffle here is a plan regression
        plan = plan_of(spark, sf_dir, name, mode="simple")
        assert "Exchange" not in plan, f"{name}: map-only contract violated"

    def test_corpus_mix_prunes_text_column(self, spark, sf_dir):
        # the sampler never looks at the document body; reading it would
        # multiply scan bytes by ~100x at corpus scale
        plan = plan_of(spark, sf_dir, "corpus_mix_sample")
        read_schema = plan.split("ReadSchema")[1].splitlines()[0]
        assert "text" not in read_schema


class TestRollupAndManifestPlans:
    def test_bridge_rollup_broadcasts_bridge_and_norms(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "bridge_rollup_centroid_similarity")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_mpd_manifest_single_shuffle_per_fold(self, spark, sf_dir):
        # window prefix-sum and the grouped folds share the l_orderkey
        # partitioning — Spark must reuse it, not re-shuffle per aggregate
        plan = plan_of(spark, sf_dir, "dash_mpd_manifest", mode="simple")
        n = plan.count("Exchange hashpartitioning")
        assert n <= 2, f"manifest assembly should reuse the order partitioning, saw {n} shuffles"

    def test_contamination_bench_side_broadcasts(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "benchmark_contamination")
        assert "Broadcast" in plan, "tiny benchmark gram side must broadcast"
        # per-doc gram dedup is row-local (array_distinct) and grams are
        # 8-byte hashes, so the ONLY exchange is the final pair count — a
        # global gram distinct or a shuffled gram join is a regression
        n = plan.count("Exchange hashpartitioning")
        assert n <= 1, f"corpus gram side must not shuffle, saw {n} exchanges"


class TestComposedLifecycle:
    """The §3.1→§3.2 composed DAG: the sink is the stage boundary."""

    def test_cue_lifecycle_stats_lineage_reads_the_sink(self, spark, sf_dir):
        # the Preprocessor-phase twin of the similarity lifecycle gate:
        # the returned per-shard stats must hang off the CSV shard sink,
        # never the FLAC decode subtree — a MapInPandas node here means
        # every downstream consumer silently re-decodes 6 albums
        plan = plan_of(spark, sf_dir, "cue_split_lifecycle", mode="simple")
        assert "csv" in plan.lower(), "stats must scan the shard sink"
        for node in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython"):
            assert node not in plan, f"{node} in post-sink lineage: decode recomputed"

    def test_cue_lifecycle_sink_resume_skips_existing_shards(self, spark, sf_dir):
        # the per-shard resume contract on the cue worklist sink: a rerun
        # over the same out_dir writes ZERO shards and the read-back stats
        # are unchanged (crash-recovery = emit only missing shards)
        from tlmc_etl_spark.plans.multimodal import _cue_split_track_stats
        from tlmc_etl_spark.scratch import scratch_dir
        from tlmc_etl_spark.sinks.shards import write_shards_resumable

        tracks = _cue_split_track_stats(spark, sf_dir).localCheckpoint(eager=True)
        out_dir = scratch_dir(spark, "cue_split_resume_test", sf_dir)
        first = write_shards_resumable(
            tracks, "album_id", out_dir, n_shards=4, fmt="csv", portable=True
        )
        assert first, "first run must write shards"
        again = write_shards_resumable(
            tracks, "album_id", out_dir, n_shards=4, fmt="csv", portable=True
        )
        assert again == [], f"rerun rewrote shards {again}"

    def test_stats_lineage_reads_the_sink_not_the_pipeline(self, spark, sf_dir):
        # The returned stats must hang off the CSV shard sink: a
        # Python-eval node means the similarity subtree would be
        # silently recomputed by every downstream consumer — the
        # cross-stage regression this gate exists for.
        plan = plan_of(spark, sf_dir, "lifecycle_similar_shards", mode="simple")
        assert "csv" in plan.lower(), "stats must scan the shard sink"
        for node in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
                     "BatchEvalPython"):
            assert node not in plan, f"{node} in post-sink lineage: similarity recomputed"

    def test_catalog_hydration_broadcasts_local_catalog(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "lifecycle_similar_shards", mode="simple")
        assert "BroadcastHashJoin" in plan, "24-row catalog must broadcast"
        # the catalog subtree (manifest scans, vote joins) runs once, into
        # a local table: the stats plan must not scan its inputs again
        for src in ("manifest.parquet", "probe.parquet"):
            assert src not in plan, f"stats plan scans {src}: catalog recomputed"

    def test_lifecycle_queries_leave_the_cache_empty(self, spark, sf_dir):
        # a plan builder leaves the session as it found it: both
        # lifecycle forms in one session cache nothing that outlives them
        spark.catalog.clearCache()
        for name in ("lifecycle_similar_shards", "lifecycle_shards_prodhash"):
            QUERIES[name].fn(spark, sf_dir).collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_composition_covers_only_clean_releases(self, spark, sf_dir):
        rows = QUERIES["lifecycle_similar_shards"].fn(spark, sf_dir).collect()
        # 12 of the 24 fixture releases are review-clean; tracks = vec_id%50
        # mapped by track%24 -> 25 gated tracks own all similarity rows
        assert sum(r["n_rows"] for r in rows) > 0
        assert sum(r["n_rows"] for r in rows) == 5 * sum(r["n_anchors"] for r in rows), (
            "every anchor carries exactly k_final neighbors"
        )


class TestOlapPlans:
    def test_rollup_is_one_shuffle_with_broadcast_dims(self, spark, sf_dir):
        # the subtotal ladder must be ONE hash shuffle (grouping-set Expand
        # rides inside it, after partial agg); both dims broadcast.
        plan = plan_of(spark, sf_dir, "hierarchy_rollup_totals")
        assert "Expand" in plan, "rollup lost its grouping-set expansion"
        assert plan.count("Arguments: hashpartitioning") == 1, plan
        # tree + details sections each print the node: 2 joins appear >= 2x,
        # and no SortMergeJoin may appear at all (dims must broadcast)
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert "SortMergeJoin" not in plan, plan

    def test_exact_percentiles_single_shuffle(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "order_value_percentiles")
        assert plan.count("Arguments: hashpartitioning") == 1, plan

    def test_approx_percentiles_partial_aggregate(self, spark, sf_dir):
        # the sketch must combine map-side: a partial_approx_percentile
        # before the exchange, final after — the mergeability contract.
        plan = plan_of(spark, sf_dir, "order_value_percentiles_approx")
        assert plan.count("Arguments: hashpartitioning") == 1, plan
        low = plan.lower()
        assert "partial_approx_percentile" in low or "objhashaggregate" in low, plan

    def test_hll_rollup_sketches_combine_map_side(self, spark, sf_dir):
        # the datasketch variant (the primary is the SQL-replayable
        # portable-hash estimator since round 14)
        plan = plan_of(spark, sf_dir, "hll_user_rollup_datasketch")
        low = plan.lower()
        assert "hllsketchagg" in low.replace("_", "") or "hll_sketch_agg" in low, plan

    def test_q3_topk_is_heap_merge_not_global_sort(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "shipping_priority_topk")
        assert "TakeOrderedAndProject" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        scan = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any("l_shipdate" in ln for ln in scan), plan

    def test_moments_single_shuffle(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "nation_balance_moments")
        assert plan.count("Arguments: hashpartitioning") == 1, plan

    def test_curation_lifecycle_stays_one_narrow_plan(self, spark, sf_dir):
        # quality filter -> dedup winners -> split -> rollup must compose
        # into ONE plan: two shuffles (winner groupBy, final rollup) and a
        # scan reading only (doc_id, text, source)
        plan = plan_of(spark, sf_dir, "curation_lifecycle")
        assert plan.count("Arguments: hashpartitioning") <= 2, plan
        schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert schema_lines and all("n_chars" not in ln and "lang" not in ln for ln in schema_lines)

    def test_q5_sixway_join_broadcasts_every_dim(self, spark, sf_dir):
        # lineitem must stream through broadcast joins; one shuffle (rollup)
        plan = plan_of(spark, sf_dir, "local_supplier_volume")
        assert "SortMergeJoin" not in plan, plan
        assert plan.count("Arguments: hashpartitioning") == 1, plan


class TestRound7PlanShapes:
    """Gates for the structural claims in plans/relational3.py (second
    batch), plans/lm.py, and per_source_quota_sample — each one was
    verified by hand when the query landed; these keep them true."""

    def test_quota_sample_rank_limit_pushed_before_exchange(self, spark, sf_dir):
        # k-smallest-hash per source must run as a partial top-K per input
        # partition (WindowGroupLimit both below AND above the exchange),
        # and cost exactly one shuffle
        plan = plan_of(spark, sf_dir, "per_source_quota_sample")
        assert plan.count("WindowGroupLimit") >= 2, plan
        assert plan.count("Arguments: hashpartitioning") == 1, plan

    def test_q21_scans_each_table_once(self, spark, sf_dir):
        # the window-distinct-set form exists BECAUSE agg+join-back scans
        # the fact twice; a refactor back to two consumers fails here
        plan = plan_of(spark, sf_dir, "q21_waiting_suppliers")
        assert plan.count("Scan parquet") == 2 * 3, plan  # tree + details
        assert plan.count("Arguments: hashpartitioning") <= 2, plan

    def test_pmi_topk_is_heap_merge_not_global_sort(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "collocation_pmi_top")
        assert "TakeOrderedAndProject" in plan, plan

    def test_q2_argmin_windows_the_aggregate_not_the_fact(self, spark, sf_dir):
        # exactly one fact shuffle: the (part,supplier) agg; the per-part
        # window must ride that same partitioning, and dims broadcast
        plan = plan_of(spark, sf_dir, "q2_min_cost_supplier")
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan

    def test_q11_fact_shuffles_once_with_scalar_broadcast(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q11_important_parts")
        # per-part agg = 1 fact shuffle; the global-mean side re-aggregates
        # the dimension-sized result (its exchange is dimension-sized)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan

    def test_q19_pushes_range_hull_below_the_join(self, spark, sf_dir):
        # the OR-of-ANDs must not block pushdown of the per-table hull:
        # the lineitem scan should carry a pushed l_quantity range
        plan = plan_of(spark, sf_dir, "q19_disjunctive_revenue")
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any("l_quantity" in ln for ln in pushed), plan
        assert any("p_brand" in ln or "p_size" in ln for ln in pushed), plan

    def test_q13_filter_reaches_orders_scan_and_keeps_left_join(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q13_order_count_distribution")
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any("o_orderpriority" in ln for ln in pushed), plan


class TestGlobalWindowLint:
    """Registry-wide ban on the one plan shape that silently serializes a
    corpus-sized table through a single task: a Window with an EMPTY
    partitionSpec whose input is not bounded by a Limit.

    `row_number().over(orderBy(...))` on a full table is correct and green
    at sf0.1 — and a 1000-executor cluster would funnel 100 TB through one
    WindowExec task. The scalable spelling is `orderBy(...).limit(k)`
    (TakeOrderedAndProject: parallel partial top-k per partition) followed
    by ranking the ≤k survivors, whose single-partition window is bounded
    by construction. This lint walks the optimized logical plan of EVERY
    registered query and fails on any unpartitioned Window whose subtree
    has no GlobalLimit/LocalLimit — so the shape can never re-enter the
    registry (round 12 shipped three of them in rank_merge_full_outer and
    a global max() over () in q15_top_supplier; both rewritten round 13).
    """

    # Documented-bounded sites that an auditor has sized by hand may be
    # whitelisted by query name here, with the justification inline.
    # Currently empty: every registered global window rides a Limit.
    WHITELIST: frozenset = frozenset()

    def test_bounded_one_partition_keeps_null_keys_in_the_group(self, spark):
        """pmod(col, 1) is NULL for NULL keys, which would open a SECOND
        window partition and restart row_number (duplicate ranks —
        e.g. lifecycle.py keys on F.length('circle_dir'); a NULL
        circle_dir row must not mint a duplicate release_idx). The
        idiom coalesces NULLs to the single group."""
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from tlmc_etl_spark.tuning import bounded_one_partition

        df = spark.createDataFrame(
            [(1,), (None,), (2,), (None,)], "k int"
        ).limit(10)
        ranked = df.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy(bounded_one_partition("k")).orderBy(
                    F.col("k").asc_nulls_last()
                )
            ),
        )
        rns = sorted(r["rn"] for r in ranked.collect())
        assert rns == [1, 2, 3, 4], f"NULL keys split the window: {rns}"

    @staticmethod
    def _subtree_has_limit(node) -> bool:
        stack = [node]
        while stack:
            n = stack.pop()
            if n.getClass().getSimpleName() in ("GlobalLimit", "LocalLimit"):
                return True
            ch = n.children()
            for i in range(ch.length()):
                stack.append(ch.apply(i))
        return False

    @staticmethod
    def _spec_is_global(node) -> bool:
        """Empty partitionSpec, or the bounded_one_partition idiom
        (pmod(key, 1) — constant 0 for every row, used ONLY to silence
        WindowExec's warning on provably-bounded inputs). Treating the
        idiom as global means it cannot be used to evade this lint."""
        import re

        spec = node.partitionSpec()
        if spec.isEmpty():
            return True
        exprs = [spec.apply(i).toString() for i in range(spec.length())]
        return all(re.match(r"^pmod\(.*, 1\)$", e) for e in exprs)

    @classmethod
    def _unbounded_global_windows(cls, plan) -> list:
        out = []
        stack = [plan]
        while stack:
            n = stack.pop()
            if (
                n.getClass().getSimpleName() == "Window"
                and cls._spec_is_global(n)
                and not cls._subtree_has_limit(n.child())
            ):
                out.append(n.simpleString(160))
            ch = n.children()
            for i in range(ch.length()):
                stack.append(ch.apply(i))
        return out

    def test_no_registered_query_windows_an_unbounded_input(self, spark, sf_dir):
        offenders = {}
        for name in sorted(QUERIES):
            if name in self.WHITELIST:
                continue
            df = QUERIES[name].fn(spark, sf_dir)
            wins = self._unbounded_global_windows(
                df._jdf.queryExecution().optimizedPlan()
            )
            if wins:
                offenders[name] = wins
        assert not offenders, (
            "unpartitioned Window over a non-limited input — single-task "
            f"serialization at scale: {offenders}"
        )
