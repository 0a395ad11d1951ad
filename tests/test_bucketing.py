"""Plan-level evidence for the bucketed co-located join: after writing
both fact tables bucketed on the join key, the join plan must contain
no shuffle Exchange, and the result must match the plain join."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.sources import bucketing
from tests.conftest import SF_SMALL


@pytest.fixture()
def no_broadcast(spark):
    """Disable auto-broadcast so the test exercises the shuffle-vs-
    bucket distinction (a broadcast join would hide it)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield spark
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_shuffle(no_broadcast):
    spark = no_broadcast
    tmp = tempfile.mkdtemp(prefix="bucketed_")
    try:
        orders = catalog.load_table(spark, SF_SMALL, "orders")
        lineitem = catalog.load_table(spark, SF_SMALL, "lineitem")
        bucketing.write_bucketed(
            orders, "orders_b", f"{tmp}/orders", ["o_orderkey"], 8, ["o_orderkey"]
        )
        bucketing.write_bucketed(
            lineitem,
            "lineitem_b",
            f"{tmp}/lineitem",
            ["l_orderkey"],
            8,
            ["l_orderkey"],
        )
        joined = (
            spark.table("lineitem_b")
            .join(
                spark.table("orders_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # SortMergeJoin over bucketed scans: no shuffle before the join.
        # (The final single-key agg may still exchange; assert the join
        # inputs specifically by checking the plan up to the join.)
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "SortMergeJoin" in plan, plan
        join_section = plan[plan.index("SortMergeJoin") :]
        assert (
            "Bucketed: true" in join_section
            or "SelectedBucketsCount" in join_section
        ), join_section

        # and the result is identical to the plain (shuffled) join
        expect = {
            (r.o_orderstatus, r.n)
            for r in lineitem.join(
                orders, F.col("l_orderkey") == F.col("o_orderkey")
            )
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        got = {(r.o_orderstatus, r.n) for r in joined.collect()}
        assert got == expect
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
        shutil.rmtree(tmp, ignore_errors=True)


def test_order_brand_layout_self_join_is_exchange_free(spark):
    """The shared (okey, brand) projection layout (graphq.
    _order_brand_pairs) is bucketed on okey so the projection
    self-join zips co-located buckets with no shuffle — both the plain
    self-join and _brand_pairs, the graph.co_occurrence_pairs join the
    brand-graph queries run. Broadcast is disabled for the probe: at
    test scale AQE would broadcast the small side, which also avoids
    the shuffle but would not prove the bucketing claim that matters
    at 100 TB."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark.queries.graphq import (
        _brand_pairs,
        _order_brand_pairs,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob = _order_brand_pairs(spark, "/root/testdata/sf0.001")
        a, b = ob.alias("a"), ob.alias("b")
        j = a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        for df in (j, _brand_pairs(spark, "/root/testdata/sf0.001")):
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning(okey" not in plan, plan
            assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_order_brand_layout_version_addressed_no_inplace_rewrite(spark, monkeypatch):
    """ADVICE r09 TOCTOU pin: a recipe/source change must land the
    rebuilt layout in a NEW directory (atomic-rename publication),
    leaving the previous version's bucket files untouched for any
    session still scanning them — a stale layout is never rewritten
    in place."""
    import os

    from sales_agent_graphdb_spark.queries import graphq, sources_io

    import shutil
    import uuid

    sf = "/root/testdata/sf0.001"
    ob1 = graphq._order_brand_pairs(spark, sf)
    n1 = ob1.count()
    # locate the published dir for the current recipe version
    # (exclude in-flight private build dirs, named '*.build_<id>' —
    # not '_tmp'; ADVICE r10 fixed the dead filter)
    base = os.path.join(sources_io.SCRATCH, "graph_ob")
    dirs_before = {d for d in os.listdir(base) if ".build_" not in d}
    # simulate a recipe change: bump the version tag -> new key
    # (unique per run — a fixed fake tag would already be published
    # on the second invocation and no new dir would appear)
    monkeypatch.setattr(graphq, "_OB_VERSION", f"obvtest{uuid.uuid4().hex[:6]}")
    try:
        ob2 = graphq._order_brand_pairs(spark, sf)
        assert ob2.count() == n1
        dirs_after = {d for d in os.listdir(base)}
        new_dirs = dirs_after - dirs_before
        assert new_dirs, "recipe change must publish a NEW layout dir"
        # every pre-existing dir survived intact (marker still present)
        for d in dirs_before:
            assert os.path.exists(os.path.join(base, d, "_SRC_STAMP")), d
        # no half-built tmp dirs left behind
        assert not [d for d in dirs_after if ".build_" in d]
    finally:
        # the fake-versioned layout is unreachable by any real recipe —
        # remove it so repeated runs don't grow .scratch unboundedly
        for d in os.listdir(base):
            if "obvtest" in d:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
