"""Batch/stream parity for the Structured Streaming layer."""

from __future__ import annotations

from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.streaming import pipelines

SF = "/root/testdata/sf0.001"


def test_stream_tumbling_matches_batch(spark):
    streamed = pipelines.tumbling_counts_stream(spark, SF)
    e = catalog.load_table(spark, SF, "events")
    batch = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows


def test_stateful_sessions_prefix_of_batch(spark):
    flushed = pipelines.stateful_sessions_stream(spark, SF).collect()
    assert len(flushed) > 0
    e = catalog.load_table(spark, SF, "events")
    batch = (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "total_value",
        )
    )
    bset = {
        (r.user_id, r.session_start, r.n_events, round(r.total_value, 6))
        for r in batch.collect()
    }
    for r in flushed:
        key = (r.user_id, r.session_start, r.n_events, round(r.total_value, 6))
        assert key in bset, f"flushed session not in batch result: {key}"


def test_stream_dedup_exactly_once(spark):
    """dropDuplicatesWithinWatermark over the self-unioned (×2) source
    must return each event exactly once — equal to the batch table."""
    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.streaming import pipelines

    out = pipelines.dedup_stream(spark, SF)
    got = [(r.event_id, r.event_type, round(r.value, 9)) for r in out.collect()]
    batch = catalog.load_table(spark, SF, "events").select(
        "event_id", "event_type", "value"
    )
    want = sorted(
        (r.event_id, r.event_type, round(r.value, 9)) for r in batch.collect()
    )
    assert got == want
    assert len(got) == len({g[0] for g in got})  # ids unique


def test_user_profile_stream_matches_batch(spark):
    """st_stream_user_profile — the stateful profile equals the batch
    GROUP BY (count / exact-decimal total / distinct types / modal type
    with lexicographic tie-break) for every user."""
    streamed = {tuple(r) for r in pipelines.user_profile_stream(spark, SF).collect()}
    e = catalog.load_table(spark, SF, "events")
    per = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("c").desc(), "event_type")
    top = (
        per.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_type"))
    )
    agg = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("total_value"),
        F.countDistinct("event_type").alias("n_types"),
    )
    batch = {
        tuple(r)
        for r in agg.join(top, "user_id")
        .select("user_id", "n_events", "total_value", "n_types", "top_type")
        .collect()
    }
    assert streamed == batch


def test_transform_with_state_twin_gated_or_parity(spark):
    """user_profile_transform_with_state — when the protobuf wheel is
    absent the v2-API twin must fail loudly with the documented
    NotImplementedError (never a silent wrong answer); when present it
    must produce exactly the v1 operator's rows."""
    import pytest as _pytest

    if not pipelines._protobuf_available():
        with _pytest.raises(NotImplementedError, match="protobuf"):
            pipelines.user_profile_transform_with_state(spark, SF)
        return
    v2 = {
        tuple(r)
        for r in pipelines.user_profile_transform_with_state(spark, SF).collect()
    }
    v1 = {tuple(r) for r in pipelines.user_profile_stream(spark, SF).collect()}
    assert v2 == v1


def test_full_outer_interval_join_covers_all_three_row_classes(spark):
    """st_stream_interval_join_full — the oracle hash certifies values;
    this pins NON-VACUITY of the full-outer semantics: the drained
    stream must contain matched pairs, null-purchase views AND
    null-view purchases (a left-outer regression would zero the third
    class while still passing a left-join-shaped comparison), and no
    sentinel rows may survive the drain filter."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark.streaming import pipelines

    out = pipelines.interval_join_full_stream(spark, SF)
    counts = out.agg(
        F.sum((F.col("purchase_id").isNull()).cast("int")).alias("null_buy"),
        F.sum((F.col("view_id").isNull()).cast("int")).alias("null_view"),
        F.sum(
            (F.col("view_id").isNotNull() & F.col("purchase_id").isNotNull()).cast("int")
        ).alias("matched"),
        F.sum((F.col("view_id") == -1).cast("int")).alias("sentinel_v"),
        F.sum((F.col("purchase_id") == -1).cast("int")).alias("sentinel_b"),
    ).collect()[0]
    assert counts.null_buy > 0, counts
    assert counts.null_view > 0, counts
    assert counts.matched > 0, counts
    assert not counts.sentinel_v and not counts.sentinel_b, counts


# ---------------------------------------------------------------------------
# Replay-idempotence audit for foreachBatch sinks (VERDICT r09 items 1+2).
# The failure class appeared twice (ADVICE r08, VERDICT r09): applied-batch
# markers stored INSIDE the sink's own output directory are deleted by the
# sink's own overwrite, so only the latest batch's marker survives and
# at-least-once replay protection is vacuous. This test drives every
# marker-based foreachBatch fold directly: (a) after N batches ALL N markers
# must survive the sink's own write mode, and (b) re-delivering an EARLIER
# batch (not just the latest) must leave the table byte-identical — the
# non-idempotent SUM/COUNT fold would double-count without a durable marker.
# ---------------------------------------------------------------------------


def _febu_batches(spark):
    rows = [("click", 1.5), ("click", 2.5), ("buy", 10.0)]
    return [
        spark.createDataFrame(
            [(t, v + i) for t, v in rows], "event_type string, value double"
        )
        for i in range(3)
    ]


def _kmv_batches(spark):
    return [
        spark.createDataFrame(
            [(j,) for j in range(i * 50, i * 50 + 80)], "user_id long"
        )
        for i in range(3)
    ]


def _fold_batches(spark):
    """Batches carrying every column any fold sink reads."""
    return [
        spark.createDataFrame(
            [
                (i * 10 + j, (i * 3 + j) % 7, t, v + i)
                for j, (t, v) in enumerate(
                    [("click", 1.5), ("click", 2.5), ("buy", 10.0)]
                )
            ],
            "event_id long, user_id long, event_type string, value double",
        )
        for i in range(3)
    ]


import pytest


def _current_rows(spark, tbl_root):
    return sorted(
        map(
            tuple,
            spark.read.parquet(
                pipelines.latest_committed_version(tbl_root)[1]
            ).collect(),
        )
    )


def test_kmv_markers_survive_replay(spark, tmp_path):
    """The KMV fold's version dirs are its applied-batch markers: (a)
    every batch's marker survives the sink's own writes (the class bug
    left only the latest one), and (b) replaying an EARLIER batch (id
    0 — the case a latest-only marker could never protect) is a no-op
    that publishes nothing."""
    import os

    tbl_root = str(tmp_path / "tbl")
    sink = pipelines.make_kmv_fold_sink(tbl_root)
    batches = _kmv_batches(spark)
    for i, b in enumerate(batches):
        sink(b, i)
    versions = sorted(n for n in os.listdir(tbl_root) if n.startswith("v_"))
    assert versions == ["v_0", "v_1", "v_2"], versions
    before = _current_rows(spark, tbl_root)
    sink(batches[0], 0)
    assert _current_rows(spark, tbl_root) == before
    assert sorted(
        n for n in os.listdir(tbl_root) if n.startswith("v_")
    ) == versions


def test_upsert_versions_are_markers_and_replay_noops(spark, tmp_path):
    """The upsert sink's version dirs ARE its applied-batch markers
    (published by one atomic rename). All three must survive the full
    drain, and re-delivering batch 0 — the case a latest-only marker
    could never protect — must leave the current table byte-identical
    and publish nothing new."""
    import os

    tbl_root = str(tmp_path / "tbl")
    sink = pipelines.make_upsert_sink(tbl_root)
    batches = _febu_batches(spark)
    for i, b in enumerate(batches):
        sink(b, i)
    versions = sorted(n for n in os.listdir(tbl_root) if n.startswith("v_"))
    assert versions == ["v_0", "v_1", "v_2"], versions
    before = _current_rows(spark, tbl_root)
    sink(batches[0], 0)
    assert _current_rows(spark, tbl_root) == before
    assert sorted(
        n for n in os.listdir(tbl_root) if n.startswith("v_")
    ) == versions


@pytest.mark.parametrize(
    "factory", ["make_upsert_sink", "make_topk_fold_sink", "make_kmv_fold_sink"]
)
def test_upsert_crash_between_write_and_publish_no_double_count(
    spark, tmp_path, monkeypatch, factory
):
    """VERDICT r10 #2: simulate a crash in the old vulnerable window —
    after the batch's table data is fully written but before its
    marker commits. With the atomic-rename protocol the publication IS
    the marker, so the failed attempt leaves nothing visible and the
    retry re-merges from the PREVIOUS version: after the retry every
    fold sink's current version must equal a clean two-batch run in a
    fresh root (for the non-idempotent SUM/COUNT fold, a double count
    would break that)."""
    import os

    make = getattr(pipelines, factory)
    tbl_root = str(tmp_path / "tbl")
    sink = make(tbl_root)
    batches = _fold_batches(spark)
    sink(batches[0], 0)

    real_rename = os.rename

    def crash_at_publish(src, dst, *a, **kw):
        if "/v_" in dst or dst.split(os.sep)[-1].startswith("v_"):
            raise OSError("simulated crash between table write and publish")
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", crash_at_publish)
    with pytest.raises(OSError, match="simulated crash"):
        sink(batches[1], 1)
    monkeypatch.setattr(os, "rename", real_rename)
    # Nothing was published: v_0 is still current, no v_1 marker.
    names = sorted(n for n in os.listdir(tbl_root) if n.startswith("v_"))
    assert names == ["v_0"], names
    # foreachBatch redelivers batch 1; the retry must fold it ONCE.
    sink(batches[1], 1)
    clean_root = str(tmp_path / "clean")
    clean = make(clean_root)
    clean(batches[0], 0)
    clean(batches[1], 1)
    assert _current_rows(spark, tbl_root) == _current_rows(spark, clean_root)
    if factory == "make_upsert_sink":
        once = (
            batches[0]
            .unionByName(batches[1])
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(20,6)")).alias("total_d"),
            )
        )
        assert _current_rows(spark, tbl_root) == sorted(map(tuple, once.collect()))


def test_no_foreachbatch_sink_keeps_state_in_its_output_dir():
    """Static audit so the class can't recur a third time: in every
    streaming/queries module, an `applied_dir = os.path.join(X, ...)`
    assignment must not root the marker directory at a `*tbl_dir`-like
    output path that some sink overwrites."""
    import pathlib
    import re

    pkg = pathlib.Path(pipelines.__file__).resolve().parents[1]
    offenders = []
    for py in pkg.rglob("*.py"):
        for m in re.finditer(
            r"applied\w*\s*=\s*os\.path\.join\(\s*(\w+)", py.read_text()
        ):
            root = m.group(1)
            if "tbl" in root or "out" in root or "lake" in root:
                offenders.append(f"{py}:{root}")
    assert offenders == [], offenders


def test_upsert_retention_bounds_versions_and_pruned_replay_noops(
    spark, tmp_path
):
    """VERDICT r11 #3: a 10-batch drain must leave at most
    _RETAIN_VERSIONS+1 version dirs (keep-last-N pruning after each
    successful publish), every batch must still count EXACTLY once,
    and a replay of a batch whose own marker was PRUNED must no-op via
    the surviving newer marker (the monotone-batch guard)."""
    import os

    tbl_root = str(tmp_path / "tbl")
    sink = pipelines.make_upsert_sink(tbl_root)
    batch = spark.createDataFrame(
        [("click", 1.0), ("buy", 2.0)], "event_type string, value double"
    )
    for i in range(10):
        sink(batch, i)
    keep = pipelines._RETAIN_VERSIONS
    names = sorted(
        (n for n in os.listdir(tbl_root) if n.startswith("v_")),
        key=lambda n: int(n[2:]),
    )
    assert names == [f"v_{i}" for i in range(9 - keep, 10)], names
    before = _current_rows(spark, tbl_root)
    # Batch 0's own marker is gone; v_9 proves it was applied.
    sink(batch, 0)
    assert _current_rows(spark, tbl_root) == before
    assert sorted(
        (n for n in os.listdir(tbl_root) if n.startswith("v_")),
        key=lambda n: int(n[2:]),
    ) == names
    cur = pipelines.latest_committed_version(tbl_root)
    counts = {
        r["event_type"]: r["n_events"]
        for r in spark.read.parquet(cur[1]).collect()
    }
    assert counts == {"click": 10, "buy": 10}, counts


def test_topk_retention_bounded_and_pruned_replay_noops(spark, tmp_path):
    """Same retention contract for the top-k fold sink: bounded dir
    count after a 10-batch drain, pruned-batch replay no-ops, and the
    maintained leaderboard equals the one-shot top-k of all batches."""
    import os

    tbl_root = str(tmp_path / "tbl")
    fold = pipelines.make_topk_fold_sink(tbl_root)
    batches = [
        spark.createDataFrame(
            [("click", i * 10 + j, float(i * 10 + j)) for j in range(5)],
            "event_type string, event_id long, value double",
        )
        for i in range(10)
    ]
    for i, b in enumerate(batches):
        fold(b, i)
    names = sorted(
        (n for n in os.listdir(tbl_root) if n.startswith("v_")),
        key=lambda n: int(n[2:]),
    )
    assert len(names) == pipelines._RETAIN_VERSIONS + 1, names
    cur = pipelines.latest_committed_version(tbl_root)
    rows_before = sorted(map(tuple, spark.read.parquet(cur[1]).collect()))
    fold(batches[2], 2)  # marker pruned; newer marker must protect it
    assert pipelines.latest_committed_version(tbl_root) == cur
    rows_after = sorted(
        map(
            tuple,
            spark.read.parquet(
                pipelines.latest_committed_version(tbl_root)[1]
            ).collect(),
        )
    )
    assert rows_after == rows_before
    # Values are i*10+j (j<5), so the global max is 94: the maintained
    # leaderboard must equal the one-shot top-k of all 10 batches.
    top_vals = sorted((float(r[2]) for r in rows_before), reverse=True)
    assert top_vals == [94.0, 93.0, 92.0][: len(top_vals)], top_vals


@pytest.mark.parametrize("sink", ["foreachBatch", "memory"])
def test_failed_drain_leaves_no_checkpoint_stream_or_view(spark, sink):
    """A run that fails in batch 0 must re-raise from ``_drain`` and
    leave nothing behind: no checkpoint dir under the streaming scratch
    root, no active stream and no memory-sink view."""
    import os

    root = pipelines._scratch("")

    def checkpoints():
        if not os.path.isdir(root):
            return set()
        return {n for n in os.listdir(root) if n.startswith("ckpt_")}

    before = checkpoints()
    views = {t.name for t in spark.catalog.listTables()}
    stream = pipelines._staged_events(spark, SF)
    if sink == "foreachBatch":

        def fail(batch_df, batch_id):  # noqa: ANN001
            raise RuntimeError(f"sink failed in batch {batch_id}")

        with pytest.raises(Exception, match="sink failed in batch 0"):
            pipelines._drain(stream, fail)
    else:
        failing = stream.select(
            "event_id",
            F.assert_true(F.col("event_id") < 0, "row failed in batch 0").alias("ok"),
        )
        with pytest.raises(Exception, match="row failed in batch 0"):
            pipelines._drain(failing)
    assert checkpoints() <= before
    assert spark.streams.active == []
    assert {t.name for t in spark.catalog.listTables()} <= views
