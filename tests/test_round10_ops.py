"""Round-10 probes and hardening tests.

Two classes here:

1. ENGINE-BEHAVIOR PROBES that pin measured Spark 4.1 limitations the
   query layer works around. Each asserts TODAY's behavior, so a Spark
   upgrade that fixes the engine flips the test and prompts enabling
   the now-supported surface (VERDICT r09 item 5).
2. Regression pins for the round-10 ADVICE fixes (calibration-bin
   floor semantics, empty-Arrow-batch PQ encode).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def test_probe_spark_has_no_qualify(spark):
    """Spark 4.1 does not parse QUALIFY (measured 2026-08), which is
    why sql_api_named_window runs the CTE-with-rank-filter spelling on
    both engines. When an upgrade adds QUALIFY this assertion fails —
    switch the statement to the shorter QUALIFY form then."""
    from pyspark.errors import ParseException

    spark.range(3).createOrReplaceTempView("probe_qualify_t")
    with pytest.raises(ParseException):
        spark.sql(
            """
            SELECT id, rank() OVER w AS rnk
            FROM probe_qualify_t
            QUALIFY rnk <= 1
            WINDOW w AS (ORDER BY id)
            """
        ).collect()


def test_probe_correlated_lateral_table_udf_misplans(spark):
    """Spark 4.1 mis-plans a correlated LATERAL invocation of a SQL
    table function whose body contains ORDER BY + LIMIT: instead of
    the per-row top-N it returns an INCORRECT result — empty at the
    r09 measurement, wrong-and-incomplete rows at this probe (one
    driver row dropped entirely and the LIMIT 1 row chosen ignoring
    the ORDER BY). That is the reason sql_api_sql_table_udf invokes
    the function with literal arguments per call. The uncorrelated
    control proves the function body itself is sound. When a Spark
    upgrade fixes the planner this test fails — switch the statement
    to the correlated LATERAL form then."""
    spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (2, 3, 30.0)],
        "cust long, ok long, total double",
    ).createOrReplaceTempView("probe_lat_orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION probe_lat_top(c BIGINT)
        RETURNS TABLE(ok BIGINT, total DOUBLE)
        RETURN SELECT ok, total FROM probe_lat_orders WHERE cust = c
               ORDER BY total DESC LIMIT 1
        """
    )
    # Control: uncorrelated (literal-argument) invocation works.
    control = spark.sql("SELECT * FROM probe_lat_top(1)").collect()
    assert [(r.ok, r.total) for r in control] == [(2, 20.0)]
    # Probe: the correlated form should yield each cust's top-1 —
    # {(1, 2, 20.0), (2, 3, 30.0)} — but today it does not.
    correlated = sorted(
        (r.c, r.ok, r.total)
        for r in spark.sql(
            """
            SELECT d.c, f.ok, f.total
            FROM (SELECT DISTINCT cust AS c FROM probe_lat_orders) d,
                 LATERAL probe_lat_top(d.c) f
            """
        ).collect()
    )
    assert correlated != [(1, 2, 20.0), (2, 3, 30.0)], (
        "Spark now plans correlated LATERAL table UDFs correctly — "
        "enable the correlated form in sql_api_sql_table_udf"
    )


def test_calibration_bin_div_agrees_cross_engine_on_negatives(spark):
    """ADVICE r09 claimed stats_calibration_bins' Spark `div` (truncate
    toward zero) diverges from its DuckDB `//` oracle (alleged floor)
    on negative values. MEASURED FALSE: DuckDB's integer `//` also
    truncates toward zero (-1//5600=0, -7//2=-3), so the two engines
    agree on the FULL integer domain — parity is by construction, not
    data luck. This cross-engine probe pins that agreement; if either
    engine ever changes its integer-division semantics, this fails
    before the driver sweep does."""
    import duckdb

    probe = [-11201, -5601, -5600, -5599, -1, 0, 1, 5599, 5600, 11201]
    got_spark = [
        r.b
        for r in spark.createDataFrame([(v,) for v in probe], "cents long")
        .selectExpr("cast(cents div 5600 as int) as b")
        .orderBy("cents")
        .collect()
    ]
    got_duck = [
        r[0]
        for v in sorted(probe)
        for r in duckdb.sql(f"SELECT CAST({v} // 5600 AS INT)").fetchall()
    ]
    assert got_spark == got_duck, (got_spark, got_duck)
    assert got_spark == [-2, -1, -1, 0, 0, 0, 0, 0, 1, 2], got_spark


def test_pq_encode_arrow_empty_batch(spark):
    """pq_encode (Arrow-batched) must pass an empty batch through instead
    of crashing on the 1-D np.array([]) (ADVICE r09): empty batches
    are routine at scale (empty partitions after a filter)."""
    import numpy as np

    from sales_agent_graphdb_spark.operators.ann import pq_codebooks, pq_encode

    dim, m = 8, 2
    rng = np.random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.rand(dim)]) for i in range(64)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    books = pq_codebooks(df, dim=dim, m_sub=m, k=4)
    # An all-empty input exercises the empty-Arrow-batch path directly.
    encoded = pq_encode(df.filter(F.col("vec_id") < -1), books)
    assert encoded.count() == 0  # empty in, empty out — no IndexError
    assert [f for f in encoded.columns if f.startswith("code_")] == [
        "code_0",
        "code_1",
    ]
    # and the non-empty path still encodes every row
    full = pq_encode(df, books)
    assert full.count() == 64


def test_stamp_ensure_single_builder_under_race(tmp_path):
    """stamp.ensure generalizes the r09 first-build-race fix to every
    stamped layout: of N sessions racing a cold layout, exactly ONE
    builds (exclusive lock + double-checked freshness) and the rest
    wait and reuse. Two threads with independent lock fds contend the
    same flock, so this exercises the real serialization path."""
    import threading
    import time

    from sales_agent_graphdb_spark.sources import stamp

    lay = str(tmp_path / "layout")
    src = tmp_path / "src.txt"
    src.write_text("x")
    builds = []

    def build():
        time.sleep(0.3)  # hold the lock long enough for the race
        (tmp_path / "layout").mkdir(exist_ok=True)
        builds.append(threading.get_ident())

    ts = [
        threading.Thread(target=stamp.ensure, args=(lay, str(src), "v", build))
        for _ in range(4)
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(builds) == 1, builds
    assert stamp.is_fresh(lay, str(src), "v")


def test_stamp_ensure_sidecar_recovery(tmp_path):
    """A fresh stamp with a corrupt/missing sidecar must rebuild (the
    per-site try/except recovery the ANN indexes had, now centralized
    behind ensure's `valid` predicate)."""
    import os

    from sales_agent_graphdb_spark.sources import stamp

    lay = str(tmp_path / "layout")
    side = tmp_path / "layout" / "SIDE.json"
    src = tmp_path / "src.txt"
    src.write_text("x")
    builds = []

    def build():
        (tmp_path / "layout").mkdir(exist_ok=True)
        side.write_text("payload")
        builds.append(1)

    def valid():
        try:
            return side.read_text() == "payload"
        except OSError:
            return False

    stamp.ensure(lay, str(src), "v", build, valid=valid)
    stamp.ensure(lay, str(src), "v", build, valid=valid)  # fresh+valid: no-op
    assert len(builds) == 1
    os.remove(side)  # corrupt the sidecar while the stamp stays fresh
    stamp.ensure(lay, str(src), "v", build, valid=valid)
    assert len(builds) == 2 and valid()
