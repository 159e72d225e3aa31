"""The SQL surface: base tables + query views drivable from spark.sql.

Also gates the property that makes views the right serving mechanism:
a filter written OVER a query view must push down INTO the view's
underlying scan (views are lazy plans, not materializations).
"""

from __future__ import annotations

from tlmc_etl_spark.catalog import register_query_views, register_tables


def test_base_tables_queryable_via_sql(spark, sf_dir, duck):
    names = register_tables(spark, sf_dir)
    assert "orders" in names and "events" in names
    got = spark.sql(
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1"
    ).collect()
    want = duck.execute(
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert [(r["o_orderstatus"], r["n"]) for r in got] == want


def test_query_views_compose_with_base_tables(spark, sf_dir):
    register_tables(spark, sf_dir)
    register_query_views(spark, sf_dir, ["doc_exact_dedup", "dataset_split_assign"])
    row = spark.sql(
        """
        SELECT s.split, count(*) AS n_unique
        FROM q_doc_exact_dedup d
        JOIN q_dataset_split_assign s USING (doc_id)
        WHERE NOT d.is_duplicate
        GROUP BY s.split
        """
    ).collect()
    splits = {r["split"]: r["n_unique"] for r in row}
    assert set(splits) <= {"train", "validation", "test"}
    assert sum(splits.values()) > 0


def test_filter_over_view_pushes_into_scan(spark, sf_dir):
    register_tables(spark, sf_dir)
    register_query_views(spark, sf_dir, ["dataset_split_assign"])
    df = spark.sql("SELECT * FROM q_dataset_split_assign WHERE doc_id = 42")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "PushedFilters" in scan
    pushed = scan.split("PushedFilters")[1]
    assert "EqualTo(doc_id,42)" in pushed, scan


class TestObservation:
    def test_metrics_ride_the_action_and_match_direct_counts(self, spark, sf_dir):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from tlmc_etl_spark.sources.tables import load_table

        orders = load_table(spark, sf_dir, "orders")
        obs = Observation("orders_quality")
        df = orders.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
            F.max("o_totalprice").alias("max_price"),
        )
        out = df.filter(F.col("o_totalprice") > 0).count()  # one action
        got = obs.get
        assert got["n_rows"] == orders.count() == out
        assert got["n_urgent"] == orders.filter("o_orderpriority = '1-URGENT'").count()
        assert got["max_price"] == orders.agg(F.max("o_totalprice")).first()[0]
