"""Physical-plan assertions: the plans we designed for are the plans we get
(pushdown, pruning, broadcast, map-side partial aggregation)."""

from __future__ import annotations

from pyspark.sql import functions as F

import sys, os
sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from game_library_enrichment_etl_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_partial_agg,
    assert_pushed_filter,
    executed_plan,
    optimized_plan,
)


def test_filter_pushdown_and_column_pruning(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .where(F.col("l_shipdate") < "1996-01-01")
        .select("l_orderkey", "l_extendedprice")
    )
    assert_pushed_filter(df, "LessThan(l_shipdate")
    # scan reads only the 3 referenced columns
    plan = executed_plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_shipdate" in plan


def test_broadcast_join_for_small_dim(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert_broadcast_join(j)


def test_lww_agg_is_partially_aggregated(spark):
    """The apply's hot-key pre-reduce (the salted two-phase LWW reduce)
    must do map-side combine (skew resistance)."""
    from game_library_enrichment_etl_spark.operators.lww import lww_dedup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        F.concat(F.lit("u"), F.col("user_id")).alias("url"),
        F.col("ts").cast("timestamp").alias("warc_ts"),
        F.col("event_id").alias("lsn"),
    )
    assert_partial_agg(lww_dedup(ev, "url", ("warc_ts", "lsn")), "partial_max_by")


def test_semi_anti_joins_planned(spark):
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        F.col("o_custkey").alias("c_custkey")
    )
    semi = cust.join(orders, "c_custkey", "left_semi")
    anti = cust.join(orders, "c_custkey", "left_anti")
    assert "LeftSemi" in optimized_plan(semi)
    assert "LeftAnti" in optimized_plan(anti)


def test_cosine_topk_broadcasts_queries(spark):
    from game_library_enrichment_etl_spark.operators.ann import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = cosine_topk(emb, emb.where(F.col("vec_id") < 3), k=2)
    assert_broadcast_join(q)
    assert_no_cartesian(q)


def test_fused_mor_plan_shape(spark, tmp_path):
    """The MOR write's scale contract (cdc/fused.py, the merge over no
    stored rows): exactly ONE exchange (the bucket repartition the window
    requires), one sort, no Python in the fold, the writer's one Arrow
    pass ABOVE the winner filter (losers never reach Python), and no extra
    shuffle after the window."""
    from game_library_enrichment_etl_spark.cdc.fused import fused_merge
    from game_library_enrichment_etl_spark.cdc.tables import PAGES_SCHEMA
    from game_library_enrichment_etl_spark.lake.table import bucket_file_writer
    from game_library_enrichment_etl_spark.plans.asserts import executed_plan, python_nodes
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.lit("U").alias("op"),
        F.concat(F.lit("https://x/"), (F.col("id") % 200).cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("warc_ts"),
        F.col("id").alias("lsn"),
        F.encode(F.concat(F.lit("<p>v"), F.col("id").cast("string"), F.lit("</p>")), "utf-8").alias("html"),
        F.lit("en").alias("lang"),
    )
    out = fused_merge(None, df, "url", "op", ("warc_ts", "lsn"), PAGES_SCHEMA,
                      {"text": "html"}, 32)
    plan = executed_plan(out)
    assert plan.count("Exchange") == 1, f"expected exactly one exchange:\n{plan}"
    # count Sort NODES: the node renders as "+- Sort [..." or, when it heads
    # a WholeStageCodegen block, "+- *(n) Sort [..." — the star prefix
    # depends on codegen stage numbering, which varies with session history
    import re

    n_sorts = len(re.findall(r"(?:\+- |^)(?:\*\(\d+\) )?Sort \[", plan, re.M))
    assert n_sorts == 1, f"expected exactly one sort:\n{plan}"
    assert python_nodes(plan) == [], f"the fold must run no Python:\n{plan}"
    # the write plan (built, not run): its only Python node is the
    # writer's pass, and operator order bottom-up is Sort -> Window ->
    # Filter -> MapInArrow
    wplan = executed_plan(bucket_file_writer(
        out, str(tmp_path), "data/v1-00000000", "url", {"text": "html"}
    ))
    assert python_nodes(wplan) == ["MapInArrow"], f"one Python node, the writer:\n{wplan}"
    i_win, i_filt, i_py = wplan.index("Window"), wplan.index("Filter"), wplan.index("MapInArrow")
    assert i_py < i_filt < i_win, f"the writer must sit above the winner filter:\n{wplan}"
    # row-count sanity: one winner per distinct url
    assert out.count() == 200
