"""Structured Streaming pipelines over the events table.

The reference has no data streaming (SURVEY.md §2.12 — its SSE chat is
token transport; Redis TTL is its only time-based semantics). The
events table is the designated extension surface: here the SAME window
expressions used by the batch queries in ``queries/event_windows.py``
run as real ``readStream`` pipelines, and the driver oracle-checks each
streamed result against the same DuckDB SQL as the batch form.

Every pipeline is one bounded run of three steps, each owned by one
helper:

- **Stage** (``_stamped``). A source other than the testdata file
  itself is a stamped layout (``sources/stamp.py``), built once per
  stamp of ``events.parquet`` and shared by every later run:
  ``_staged_events`` (the normalized events in 3 files, one file per
  microbatch, for the ``foreachBatch`` sinks) and ``_sentinel_source``
  (the raw events plus one end-of-stream sentinel per user, one layout
  per sentinel gap). ``stream_events`` reads the testdata file directly.
- **Drain** (``_drain``). A per-run checkpoint, the ``availableNow``
  trigger (the run drains its source, then stops), start and
  ``awaitTermination``; the query is stopped, the memory-sink view
  dropped and the checkpoint removed in a ``finally``, so a failed run
  leaves no stream, view or scratch dir behind. A memory sink's rows
  are collected and returned: the sink would otherwise pin the whole
  result in driver memory for the session.
- **Commit** (``_versioned_fold``). Every fold sink (upsert, top-k,
  KMV) is a merge function over one protocol: batch ``b``'s folded
  table is written to a private ``.build_*`` dir and published as
  ``<root>/v_<b>`` with one atomic ``os.rename``, so the table version
  and its applied-batch marker are the same filesystem object.

Per-run scratch is then only the checkpoint and the sink's table
(``_run_dir``), both removed when the run ends.

Scale design: in production the source is a real log stream (Kafka/
files on object storage); state lives in the state store partitioned
by grouping key, so 1000 executors shard windows by (window, key)
hash. ``availableNow`` is also the production backfill path — the same
pipeline replays history with bounded per-batch file counts.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.catalog import (
    WrittenParquet,
    ensure_events_readable,
    read_parquet,
    written_schema,
)
from sales_agent_graphdb_spark.functions.scalar import (
    H52_SPAN,
    dec6,
    dec6_quantizer,
    md5_int,
    money,
)
from sales_agent_graphdb_spark.session import materialize
from sales_agent_graphdb_spark.sources import stamp


def _scratch(name: str) -> str:
    """``name`` under the engine's scratch root (``sources_io.SCRATCH``),
    read at call time: the queries package imports this module."""
    from sales_agent_graphdb_spark.queries.sources_io import SCRATCH

    return os.path.join(SCRATCH, "streaming", name)


@contextmanager
def _run_dir(prefix: str):
    """A per-run scratch path (a checkpoint or a sink's table), removed
    on exit whether or not the run succeeded."""
    path = _scratch(f"{prefix}_{uuid.uuid4().hex[:12]}")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _stamped(sf_dir: str, name: str, version: str, build) -> str:
    """Stage: the layout ``name`` of ``sf_dir``'s events, built by
    ``build(root)`` once per stamp of ``events.parquet`` and recipe tag
    ``version``; returns its root."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    root = _scratch(os.path.join(tag, name))
    src = f"{sf_dir.rstrip('/')}/events.parquet"
    stamp.ensure(root, src, version, lambda: build(root))
    return root


# events schema as written. ts has shipped as TIMESTAMP(NANOS) (=> long
# ns with nanosAsLong) or plain TIMESTAMP_NTZ depending on testdata
# generation; the streaming source pins whichever the file actually has
# (streaming sources never infer), detected via a cheap batch read.
def _events_raw_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    path = f"{sf_dir}/events.parquet"
    ensure_events_readable(spark, path)
    ts_type = read_parquet(spark, path).schema["ts"].dataType
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded source: file-stream over the testdata
    parquet (schema pinned — streaming sources never infer), ts
    normalized to session-TZ TimestampType identical to the batch
    loader (nanos→µs floor when long-encoded)."""
    schema = _events_raw_schema(spark, sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir}/events.[p]arquet")  # glob => file-source basePath is the dir
    )
    return catalog.normalize_events_ts(raw)


def _staged_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The normalized events split into 3 files, streamed one file per
    microbatch, so a ``foreachBatch`` fold must merge into standing
    state (an UPDATE of existing keys), not just insert once. Each
    pipeline selects its columns from the stream."""
    ev = catalog.load_table(spark, sf_dir, "events")
    root = _stamped(
        sf_dir,
        "events_3f",
        "",
        lambda r: ev.repartition(3).write.mode("overwrite").parquet(r),
    )
    return (
        spark.readStream.schema(written_schema(ev))
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/*.parquet")
    )


def _drain(stream: DataFrame, sink=None, mode: str = "append") -> DataFrame | None:
    """Drain: run ``stream`` to the end of its source into ``sink`` (a
    ``foreachBatch`` function; returns None) or, without one, into a
    memory sink in output ``mode`` and return its rows. Re-raises a
    failed run after stopping it and removing its checkpoint and view."""
    spark = stream.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    with _run_dir("ckpt") as ckpt:
        writer = stream.writeStream.option("checkpointLocation", ckpt).trigger(
            availableNow=True
        )
        if sink is None:
            writer = writer.format("memory").queryName(name).outputMode(mode)
        else:
            writer = writer.foreachBatch(sink)
        query = None
        try:
            query = writer.start()
            query.awaitTermination()
            if sink is None:
                table = spark.table(name)
                return spark.createDataFrame(table.collect(), schema=table.schema)
        finally:
            if query is not None:
                query.stop()
            spark.catalog.dropTempView(name)


def _windowed_counts_stream(
    spark: SparkSession, sf_dir: str, window_col
) -> DataFrame:
    """ONE streaming windowed-count pipeline (watermark → per-window
    exact-DECIMAL agg → complete-mode drain → formatted projection)
    parameterized by the window expression — tumbling and sliding are
    the same query shape differing only in F.window(...), so a fix to
    the watermark/sum/projection reaches both twins or neither."""
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(window_col.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec6("value")).cast("double").alias("total_value"),
        )
    )
    out = _drain(agg, mode="complete")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("window_start", "event_type")


def tumbling_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling windows per event_type — the
    streaming twin of queries/event_windows.st_tumbling_window (same
    window expression, same exact-DECIMAL sums). Complete output mode
    so the bounded run emits every window including those still inside
    the watermark when the source drains."""
    return _windowed_counts_stream(spark, sf_dir, F.window("ts", "1 hour"))


def sliding_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING windows (1-hour length, 30-minute slide) per
    event_type executed as a real streaming query — the streaming twin
    of queries/event_windows.st_sliding_window. Each event feeds 2
    overlapping window states (Spark expands the row per window);
    state per key is bounded by length/slide windows past the
    watermark. Complete mode emits every window on drain, matching the
    batch grid oracle exactly."""
    return _windowed_counts_stream(
        spark, sf_dir, F.window("ts", "1 hour", "30 minutes")
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: per-user session aggregation via
# applyInPandasWithState (SURVEY.md §2.12 "custom stateful operators").
# ---------------------------------------------------------------------------

SESSION_GAP_S = 1800  # 30 min, the reference's session-ish constant

_OUT_SCHEMA = (
    "user_id long, session_start timestamp, n_events long, total_value double"
)


def stateful_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completed (flushed) sessions per user from the stateful
    operator. Terminal open sessions remain in state — so the result is
    exactly the batch gap-and-islands session list MINUS each user's
    last session, which is what the r03 DuckDB oracle checks (the
    QUALIFY-prefix form of st_stream_sessions_complete's oracle).
    Exact-decimal accumulation so totals match the oracle's DECIMAL
    sums bit-for-bit; session_start formatted like the complete
    variant."""
    events = stream_events(spark, sf_dir).select(
        "user_id",
        (F.unix_micros(F.col("ts"))).alias("ts_us"),
        "event_id",
        "value",
    )
    result = events.groupBy("user_id").applyInPandasWithState(
        _make_session_fn_exact(SESSION_GAP_S),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA_EXACT,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _drain(result)
    return out.select(
        "user_id",
        F.date_format(F.col("session_start"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
        "total_value",
    ).orderBy("user_id", "session_start")


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the events source unioned with
    itself (every event arrives twice — the at-least-once delivery
    shape Kafka consumers actually see), deduplicated by event_id with
    ``dropDuplicatesWithinWatermark``. State is the seen-key set
    BOUNDED BY THE WATERMARK HORIZON — keys older than the watermark
    are evicted, so state size tracks the delay window (2h of keys),
    not stream length: the property that makes streaming dedup viable
    on an unbounded 100 TB/day stream, where an unbounded seen-set
    (plain dropDuplicates) would grow forever. Result: each event
    exactly once — hash-checked against the batch table."""
    a = stream_events(spark, sf_dir)
    b = stream_events(spark, sf_dir)
    doubled = a.unionByName(b)
    deduped = doubled.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = _drain(deduped)
    return out.select("event_id", "event_type", "value").orderBy("event_id")


def interval_join_cond():
    """THE view→purchase attribution join condition — equi-key on
    user_id plus the 1h time-range bound. Shared with
    tests/test_plans.py so the plan-shape test exercises the REAL
    condition: losing the equi-key here would degrade the state-store
    sharding to a nested-loop shape, and the test must see that."""
    return F.expr(
        "v_user_id = b_user_id AND "
        "view_ts BETWEEN buy_ts - INTERVAL 1 HOUR AND buy_ts"
    )


def _interval_join(views_src, buys_src, how: str, sentinels: bool) -> DataFrame:
    """Drain the view→purchase interval join (``interval_join_cond``,
    both sides watermarked 2 hours) of ``views_src`` and ``buys_src``
    in join type ``how``. With ``sentinels`` the ``__sentinel__`` rows
    pass both event-type filters: each side's watermark must pass every
    eviction bound for the outer joins' null rows to flush, and a
    sentinel reaches a watermark only through its side's filter.
    Sentinels (event_id -1) only ever pair with the same user's
    sentinel on the other side (equal ts; real events lie more than 1h
    before it), so dropping a -1 on either side drops exactly them."""

    def side(stream, event_type, user, eid, ts):
        keep = [event_type, "__sentinel__"] if sentinels else [event_type]
        return (
            stream.filter(F.col("event_type").isin(*keep))
            .select(
                F.col("user_id").alias(user),
                F.col("event_id").alias(eid),
                F.col("ts").alias(ts),
            )
            .withWatermark(ts, "2 hours")
        )

    views = side(views_src, "view", "v_user_id", "view_id", "view_ts")
    buys = side(buys_src, "purchase", "b_user_id", "purchase_id", "buy_ts")
    out = _drain(views.join(buys, interval_join_cond(), how))
    return (
        out.filter(
            (F.coalesce(F.col("view_id"), F.lit(0)) != -1)
            & (F.coalesce(F.col("purchase_id"), F.lit(0)) != -1)
        )
        .select(
            F.coalesce(F.col("v_user_id"), F.col("b_user_id")).alias("user_id"),
            "view_id",
            "purchase_id",
        )
        .orderBy("user_id", "view_id", "purchase_id")
    )


def interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchase events joined to the same
    user's view events from the preceding hour — the attribution join
    every clickstream pipeline runs. Both sides are watermarked, so the
    join STATE is bounded: a buffered view can be evicted once the
    purchase-side watermark passes view_ts + 1h (the time-range
    condition gives Spark the eviction bound; an unconstrained
    stream-stream join would buffer forever). Inner-join matches emit
    as they form, so the drained result equals the batch join exactly.
    At 100 TB/day both sides shard by user_id in the state store."""
    return _interval_join(
        stream_events(spark, sf_dir), stream_events(spark, sf_dir), "inner", False
    )


def interval_join_outer_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every view event, with
    its attributed purchase (next hour, same user) or NULL if none.
    Unlike the inner form, the null rows are WATERMARK-DRIVEN: Spark
    can only declare a view unmatched once the watermark passes
    view_ts + 1h, so each null row emits at state eviction in a later
    microbatch. The sentinel (10h past the global max) pushes the final
    watermark past every view's eviction bound (view_ts + 1h + 2h
    delay), so the drain flushes ALL unmatched views and the result
    equals the complete batch LEFT JOIN the oracle states."""
    stream = _sentinel_source(spark, sf_dir, sentinel_gap_s=36000)
    return _interval_join(stream, stream, "leftOuter", True)


def interval_join_full_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join: every view with its
    attributed purchase, every unconverted view with NULL purchase, AND
    every unattributed purchase with NULL view — the reconciliation
    both sides of a funnel audit need. Null flushes are watermark-driven
    on BOTH sides: an unmatched view flushes when the watermark passes
    view_ts + 1h, an unmatched purchase when it passes buy_ts (its
    candidate views all precede it), so the state store holds only each
    side's horizon. The shared sentinel advances both watermarks past
    every eviction bound, so the drained result equals the batch FULL
    JOIN the oracle states."""
    stream = _sentinel_source(spark, sf_dir, sentinel_gap_s=36000)
    return _interval_join(stream, stream, "fullOuter", True)


def _make_session_fn_exact(gap_s: int):
    """Per-group stateful sessionizer (a self-contained closure:
    cloudpickle serializes it by VALUE, so executors need no package
    import path). Accumulates value in exact decimal, so the flushed
    total matches SUM(CAST(value AS DECIMAL(20,6))) bit-for-bit —
    required for the oracle-checked complete-sessions query. Each event
    is quantized by ``scalar.dec6_quantizer``, the Python twin of the
    6-dp cast every other oracle-green query applies JVM-side, so this
    query diverges from the DuckDB oracle only if they all do. Sentinel
    events (event-time far past every real event) close each user's
    final session; the sentinel's own singleton session stays in state
    and is never emitted."""
    import decimal as _decimal

    import pandas as _pd

    _dec6 = dec6_quantizer()

    def session_fn(key, pdf_iter, state):
        (user_id,) = key
        # (ts_us, event_id) — total order, so tied timestamps cannot
        # reorder between runs (mirrors the oracle's window ordering).
        rows = _pd.concat(list(pdf_iter)).sort_values(["ts_us", "event_id"])
        if state.exists:
            last_ts, start, n, total_str = state.get
            total = _decimal.Decimal(total_str)
        else:
            last_ts, start, n, total = None, None, 0, _decimal.Decimal(0)
        out = []
        for ts_us, value in zip(rows["ts_us"], rows["value"]):
            ts_us = int(ts_us)
            if last_ts is not None and ts_us - last_ts > gap_s * 1_000_000:
                out.append((user_id, start, n, float(total)))
                start, n, total = ts_us, 1, _dec6(value)
            else:
                start = ts_us if start is None else start
                n += 1
                total += _dec6(value)
            last_ts = ts_us
        state.update((last_ts, start, n, str(total)))
        if out:
            yield _pd.DataFrame(
                {
                    "user_id": [o[0] for o in out],
                    "session_start": [_pd.Timestamp(o[1], unit="us") for o in out],
                    "n_events": [o[2] for o in out],
                    "total_value": [o[3] for o in out],
                }
            )

    return session_fn


_STATE_SCHEMA_EXACT = "last_ts long, session_start long, n long, total string"


def _sentinel_source(
    spark: SparkSession, sf_dir: str, sentinel_gap_s: int = 2 * SESSION_GAP_S
) -> DataFrame:
    """The raw events (symlinked; testdata is read-only) plus one
    end-of-stream sentinel event per user at event-time
    ``sentinel_gap_s`` past the global max, as a normalized stream —
    the drain-a-bounded-run move every sentinel-flushed stateful query
    shares. One stamped layout per gap; the raw ``ts`` type, which the
    sentinel file must match, is part of its recipe tag.

    No maxFilesPerTrigger: both files land in ONE microbatch, so the
    state fn's in-batch event-time sort fully determines order. (With
    per-file batches, correctness would rest on the file source's
    mtime ordering putting the sentinel last — a sentinel-first batch
    would seed state at the far-future sentinel ts and absorb every
    real event into a never-emitted sentinel session.)"""
    schema = _events_raw_schema(spark, sf_dir)
    ts_type = schema["ts"].dataType

    def build(root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        os.symlink(
            os.path.realpath(f"{sf_dir}/events.parquet"),
            os.path.join(root, "events.parquet"),
        )
        ev = catalog.load_table(spark, sf_dir, "events")
        sent = (
            ev.select("user_id")
            .distinct()
            .crossJoin(ev.agg(F.max("ts").alias("gmx")))
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                (F.col("gmx") + F.expr(f"INTERVAL {sentinel_gap_s} SECONDS")).alias(
                    "ts_t"
                ),
                F.col("user_id"),
                F.lit("__sentinel__").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit(None).cast("string").alias("props"),
            )
        )
        if ts_type.simpleString() == "bigint":
            sent = sent.withColumn("ts", F.unix_micros(F.col("ts_t")) * F.lit(1000))
        else:
            sent = sent.withColumn("ts", F.col("ts_t").cast(ts_type))
        sent = sent.select("event_id", "ts", "user_id", "event_type", "value", "props")
        sent.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(root, "sentinel.parquet")
        )

    root = _stamped(
        sf_dir, f"sentinel_{sentinel_gap_s}", ts_type.simpleString(), build
    )
    raw = spark.readStream.schema(schema).parquet(f"{root}/*.parquet")
    return catalog.normalize_events_ts(raw)


def stateful_sessions_complete_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL sessions from the stateful operator — open sessions are
    closed by the per-user end-of-stream sentinel (``_sentinel_source``,
    event-time 2 gaps past the global max): the sentinel exceeds every
    user's inactivity gap, so each final real session flushes, while
    the sentinel's own singleton session stays in state unemitted. The
    streamed result then equals the batch gap-and-islands
    sessionization EXACTLY, hash-checked against the same DuckDB oracle
    as st_session_window."""
    events = _sentinel_source(spark, sf_dir).select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_id", "value"
    )
    result = events.groupBy("user_id").applyInPandasWithState(
        _make_session_fn_exact(SESSION_GAP_S),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA_EXACT,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _drain(result)
    return out.select(
        "user_id",
        F.date_format(F.col("session_start"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
        "total_value",
    ).orderBy("user_id", "session_start")


def _versions(tbl_root: str) -> list[tuple[int, str]]:
    """The committed ``(batch_id, path)`` pairs under a version-addressed
    table root, ascending. Only the atomic rename in
    ``_versioned_fold`` creates ``v_<batch_id>`` names, so "present" ==
    "committed"."""
    if not os.path.isdir(tbl_root):
        return []
    return sorted(
        (int(name[2:]), os.path.join(tbl_root, name))
        for name in os.listdir(tbl_root)
        if name.startswith("v_") and name[2:].isdigit()
    )


def latest_committed_version(tbl_root: str):  # noqa: ANN201
    """``(batch_id, path)`` of the highest committed version, or None."""
    versions = _versions(tbl_root)
    return versions[-1] if versions else None


# Superseded versions kept after each publish (VERDICT r11 #3). N+1
# dirs bound the root regardless of stream length; the N most recent
# markers stay on disk so the common replay (latest batch re-delivered
# after a crash) hits its own marker, and OLDER replays no-op via the
# monotone-batch guard in ``_versioned_fold`` (any committed version
# with bid >= batch_id proves the batch was applied, because
# foreachBatch only starts batch b+1 after batch b's checkpoint commit).
_RETAIN_VERSIONS = 3


def prune_versions(tbl_root: str, keep_last: int = _RETAIN_VERSIONS) -> None:
    """Keep-last-N retention: remove ``v_<bid>`` dirs with
    ``bid < max_committed - keep_last``. Runs only AFTER a successful
    publish, never touches the current version or the ``keep_last``
    behind it, and tolerates concurrent pruners (losing a delete race
    is success)."""
    versions = _versions(tbl_root)
    for bid, path in versions:
        if bid < versions[-1][0] - keep_last:
            shutil.rmtree(path, ignore_errors=True)


def _versioned_fold(tbl_root: str, merge):  # noqa: ANN201
    """Commit: the ``foreachBatch`` function of a fold sink whose batch
    ``b`` publishes ``merge(batch_df, standing)`` as ``tbl_root/v_<b>``,
    where ``standing`` is the latest committed version (None before
    the first). foreachBatch is at-least-once per batch_id: a batch
    re-delivered after a completed write but before the checkpoint
    commit must not fold in twice.

    - Replay guard: a committed version with ``bid >= b`` proves batch
      ``b`` was applied (batch ids are monotone), so the batch no-ops,
      even after its own version was pruned.
    - Publish: the merge is written to a private ``.build_*`` dir, then
      renamed to ``v_<b>`` in one atomic ``os.rename`` (the
      ``_order_brand_pairs`` template, queries/graphq.py). Data and
      applied-batch marker are one object, so a crash before the rename
      leaves an orphaned build and the retry re-merges from the previous
      version; a crash after it leaves the version and the retry no-ops.
    - Race: a builder whose rename loses to a committed ``v_<b>``
      discards its build and defers to the winner.
    - After each publish the version is recorded (``WrittenParquet``,
      so the next batch reads it without schema inference) and versions
      older than ``_RETAIN_VERSIONS`` behind it are pruned.

    The returned function's ``read_committed(spark)`` reads the current
    version for the pipeline's driver and fails loudly, naming the
    root, when the drain committed none (an empty source)."""
    written = WrittenParquet()

    def fold(batch_df, batch_id):  # noqa: ANN001
        prev = latest_committed_version(tbl_root)
        if prev is not None and prev[0] >= batch_id:
            return
        standing = None if prev is None else written.read(batch_df.sparkSession, prev[1])
        out = merge(batch_df, standing)
        version_dir = os.path.join(tbl_root, f"v_{batch_id}")
        build = os.path.join(tbl_root, f".build_{uuid.uuid4().hex[:12]}")
        os.makedirs(tbl_root, exist_ok=True)
        out.write.mode("overwrite").parquet(build)
        try:
            os.rename(build, version_dir)
        except OSError:
            shutil.rmtree(build, ignore_errors=True)
            if os.path.exists(version_dir):
                return  # lost a publish race; the committed version wins
            raise  # genuine failure: nothing published, retry is safe
        written.record(version_dir, out)
        prune_versions(tbl_root)

    def read_committed(spark: SparkSession) -> DataFrame:
        current = latest_committed_version(tbl_root)
        if current is None:
            raise RuntimeError(
                f"no committed version under {tbl_root}: the drained stream "
                "produced zero batches"
            )
        return written.read(spark, current[1])

    fold.read_committed = read_committed
    return fold


def make_upsert_sink(tbl_root: str):  # noqa: ANN201
    """The SUM/COUNT fold of ``foreachbatch_upsert_stream`` on the
    ``_versioned_fold`` commit: each batch's per-event_type partial
    aggregate merges into the standing table. Unlike the top-k and KMV
    folds this merge is not idempotent, so exactly-once rests on the
    commit protocol alone."""

    def merge(batch_df, standing):  # noqa: ANN001, ANN202
        part = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec6("value")).alias("total_d"),
        )
        merged = part if standing is None else standing.unionByName(part)
        return merged.groupBy("event_type").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_d").alias("total_d"),
        )

    return _versioned_fold(tbl_root, merge)


def foreachbatch_upsert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → lake-table maintenance via ``foreachBatch``: the
    events stream (3 microbatches) incrementally upserts a
    per-event_type aggregate table on disk — the incremental-view shape
    of incremental_agg_maintenance driven by a stream. Counts and
    DECIMAL sums combine associatively, so after the drain the
    maintained table must equal the one-shot batch aggregate, which the
    driver hash-checks. At 100 TB the sink is a real MERGE INTO
    (Delta/Iceberg); the version-addressed parquet publish of the tiny
    aggregate stands in with identical commit semantics."""
    with _run_dir("febu_tbl") as tbl_root:
        upsert = make_upsert_sink(tbl_root)
        _drain(_staged_events(spark, sf_dir), upsert)
        return materialize(
            upsert.read_committed(spark)
            .select(
                "event_type",
                "n_events",
                F.col("total_d").cast("double").alias("total_value"),
            )
            .orderBy("event_type"),
            eager=True,
        )


# ---------------------------------------------------------------------------
# Streaming per-user profile — the "customer 360" materialization: one
# stateful pass maintains, per user, the lifetime event count, the
# exact-decimal value total, and the per-event-type counts (modal type).
# Sentinel-flushed so a bounded drain emits exactly the batch answer.
# ---------------------------------------------------------------------------

_PROFILE_OUT_SCHEMA = (
    "user_id long, n_events long, total_value double, "
    "n_types long, top_type string"
)
# per-type counts ride in the fixed-shape state struct as a JSON object
# (the v1 API takes a flat struct; the v2 twin below uses real MapState).
_PROFILE_STATE_SCHEMA = "n long, total string, type_counts string"


def _make_profile_fn():
    """Per-user profile accumulator (closure ⇒ cloudpickle serializes
    by value, same rationale as _make_session_fn_exact, whose exact
    decimal quantization it shares: each event goes through
    ``scalar.dec6_quantizer``, so the total matches SUM(CAST(value AS
    DECIMAL(20,6))) bit-for-bit). The sentinel row sorts last
    (far-future event time); on seeing it the user's profile row
    flushes and state clears."""
    import decimal as _decimal
    import json as _json

    import pandas as _pd

    _dec6 = dec6_quantizer()

    def profile_fn(key, pdf_iter, state):
        (user_id,) = key
        rows = _pd.concat(list(pdf_iter)).sort_values(["ts_us", "event_id"])
        if state.exists:
            n, total_str, counts_json = state.get
            total = _decimal.Decimal(total_str)
            counts = _json.loads(counts_json)
        else:
            n, total, counts = 0, _decimal.Decimal(0), {}
        flush = False
        for et, value in zip(rows["event_type"], rows["value"]):
            if et == "__sentinel__":
                flush = True
                continue
            n += 1
            total += _dec6(value)
            counts[et] = counts.get(et, 0) + 1
        if flush:
            top = (
                sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
                if counts
                else None
            )
            state.remove()
            yield _pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "total_value": [float(total)],
                    "n_types": [len(counts)],
                    "top_type": [top],
                }
            )
        else:
            state.update((n, str(total), _json.dumps(counts, sort_keys=True)))

    return profile_fn


def user_profile_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime profile (n_events, exact-decimal total, modal
    event type) maintained by a custom stateful operator and flushed by
    the per-user sentinel — the streaming materialization of a
    "customer 360" table. Hash-checked against the plain batch GROUP BY
    oracle. State is O(users)·O(types) and sharded by user hash across
    the state store at scale."""
    events = _sentinel_source(spark, sf_dir).select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )
    result = events.groupBy("user_id").applyInPandasWithState(
        _make_profile_fn(),
        outputStructType=_PROFILE_OUT_SCHEMA,
        stateStructType=_PROFILE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain(result).orderBy("user_id")


def _protobuf_available() -> bool:
    """transformWithStateInPandas needs the protobuf wheel (its state
    API speaks protobuf to the JVM); absent in this runtime image."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_profile_transform_with_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME per-user profile via Spark 4's transformWithState v2
    API (transformWithStateInPandas + StatefulProcessor): the running
    (n, exact-decimal total) pair lives in a ValueState and the
    per-type counts in a real MapState — the composite-state shape the
    v1 flat-struct API had to emulate with a JSON column — and the
    handles accept ttlDurationMs for processing-time state eviction
    (not used here: TTL is wall-clock-dependent, which would break the
    deterministic oracle). Requires the RocksDB state store provider
    and the protobuf wheel; the runtime image ships the JVM side but
    not protobuf, so this twin raises cleanly when unavailable
    (import-gated like sources/multimodal.py:decode_media) — the
    registered, oracle-checked form is user_profile_stream. Covered by
    tests/test_streaming.py: gating asserted always, parity with the
    v1 result asserted when protobuf exists."""
    if not _protobuf_available():
        raise NotImplementedError(
            "transformWithStateInPandas requires the protobuf package, "
            "not present in this runtime; use user_profile_stream "
            "(applyInPandasWithState) for the identical result"
        )
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    _dec6 = dec6_quantizer()

    class _ProfileProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._agg = handle.getValueState("agg", "n long, total string")
            self._types = handle.getMapState("types", "t string", "c long")

        def handleInputRows(self, key, rows, timer_values):
            import decimal as _decimal

            import pandas as _pd

            (user_id,) = key
            pdf = _pd.concat(list(rows)).sort_values(["ts_us", "event_id"])
            if self._agg.exists():
                n, total_str = self._agg.get()
                total = _decimal.Decimal(total_str)
            else:
                n, total = 0, _decimal.Decimal(0)
            flush = False
            for et, value in zip(pdf["event_type"], pdf["value"]):
                if et == "__sentinel__":
                    flush = True
                    continue
                n += 1
                total += _dec6(value)
                prev = (
                    self._types.getValue((et,))[0]
                    if self._types.containsKey((et,))
                    else 0
                )
                self._types.updateValue((et,), (prev + 1,))
            if flush:
                counts = [(k[0], v[0]) for k, v in self._types.iterator()]
                top = (
                    sorted(counts, key=lambda kv: (-kv[1], kv[0]))[0][0]
                    if counts
                    else None
                )
                self._agg.clear()
                self._types.clear()
                yield _pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "n_events": [n],
                        "total_value": [float(total)],
                        "n_types": [len(counts)],
                        "top_type": [top],
                    }
                )
            else:
                self._agg.update((n, str(total)))

        def close(self) -> None:
            pass

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    # Everything after reading prev_provider sits inside the try: a
    # failure in the conf set, the sentinel-source build, or the run
    # must not leak the RocksDB override into the rest of the session.
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        events = _sentinel_source(spark, sf_dir).select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "event_id",
            "event_type",
            "value",
        )
        result = events.groupBy("user_id").transformWithStateInPandas(
            _ProfileProcessor(),
            outputStructType=_PROFILE_OUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
        out = _drain(result)
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
    return out.orderBy("user_id")


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join + aggregation: the events stream
    joined to the customer dimension (a plain batch DataFrame — no
    watermark, no state: the static side is re-read per microbatch and
    BROADCAST, the standard fact-stream × dim-table shape), then
    revenue rolled up per market segment × event type. Complete output
    mode emits the full aggregate on drain, which must equal the batch
    join+agg exactly. At 100 TB/day the dim side stays broadcast (or
    becomes a slowly-refreshed Delta snapshot) and the stream never
    shuffles for the join — only for the low-cardinality agg."""
    events = stream_events(spark, sf_dir)
    dim = catalog.load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = events.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec6("value")).cast("double").alias("total_value"),
    )
    out = _drain(agg, mode="complete")
    return out.select(
        F.col("c_mktsegment").alias("segment"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("segment", "event_type")


# ---------------------------------------------------------------------------
# Custom stateful operator #2: per-user streaming EWMA — the streaming
# twin promised by queries/temporal.py:ts_ewma_per_user. State carries
# (n, ewma, seeded) per user; each micro-batch folds its rows in
# (ts, event_id) order starting from the carried value, so the result
# is the SAME left-to-right recursion as the batch in-plan fold and
# the DuckDB list_reduce — bit-exact across all three, because Python,
# the JVM and DuckDB all execute the identical IEEE double expression
# x*alpha + acc*(1-alpha) in the identical order.
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.3  # mirrors queries/temporal.py _EWMA_ALPHA

_EWMA_OUT_SCHEMA = "user_id long, n_events long, ewma double"
_EWMA_STATE_SCHEMA = "n bigint, ewma double, seeded int"


def _make_ewma_fn(alpha: float):
    """Self-contained closure (pickled by value to executors). The
    per-row Python loop is bounded by one user's events per batch —
    this is the custom-state path where the recursion itself is the
    point; the bulk math stays vectorized upstream."""
    beta = 1.0 - alpha

    def fn(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            n, ewma, seeded = state.get
            seeded = bool(seeded)
        else:
            n, ewma, seeded = 0, 0.0, False
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if parts:
            df = pd.concat(parts).sort_values(["ts_us", "event_id"])
            for x in df["value"].to_numpy():
                x = float(x)
                ewma = x if not seeded else x * alpha + ewma * beta
                seeded = True
                n += 1
            state.update((n, float(ewma), 1 if seeded else 0))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "ewma": [float(ewma)]}
            )

    return fn


def ewma_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cumulative EWMA from the stateful operator. Each
    invocation emits the user's running (n_events, ewma) as of that
    micro-batch; the post-aggregation keeps the row with the highest
    n_events per user (the latest state), so the result is correct
    whatever the source's batch split. On the bounded availableNow
    drain this equals the batch ts_ewma_per_user exactly."""
    events = stream_events(spark, sf_dir).select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        "value",
    )
    result = events.groupBy("user_id").applyInPandasWithState(
        _make_ewma_fn(EWMA_ALPHA),
        outputStructType=_EWMA_OUT_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _drain(result)
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.expr("max_by(ewma, n_events)").alias("ewma"),
        )
        .orderBy("user_id")
    )


def scd2_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream × SCD2-dimension TEMPORAL enrichment: each streamed event
    is enriched with the dimension version in force AT EVENT TIME (not
    the current one — the mistake a plain stream-static join bakes in
    when dimensions change under a long-running stream). Per
    microbatch, foreachBatch applies the union-tag-window as-of form
    (queries/temporal.py:join_scd2_asof) against the FULL version
    history: correct regardless of how events split across batches,
    because each event's as-of lookup depends only on (event, history),
    never on other events. Batch results land in per-batch_id
    partition dirs (overwrite => idempotent under foreachBatch's
    at-least-once replay), and the drained union must equal the
    one-shot batch as-of join, which the shared oracle hash-checks.

    At 100 TB/day the history frame is dimension-sized (broadcastable;
    a real deployment snapshots it per batch from the SCD2 table), and
    per-batch cost is O(batch + |hist slice|) with ONE user-key
    shuffle — no unbounded stream-join state, which is what makes the
    temporal join viable in a stream at all."""
    from pyspark.sql import Window as W

    from sales_agent_graphdb_spark.queries.temporal import scd2_history

    hist = materialize(scd2_history(spark, sf_dir), eager=True)
    written = WrittenParquet()

    with _run_dir("scd2e_out") as out_dir:
        landed = os.path.join(out_dir, "*")  # every batch's dir

        def enrich(batch_df, batch_id):  # noqa: ANN001
            side0 = hist.select(
                "user_id",
                "ts",
                F.lit(0).alias("side"),
                "seg",
                F.lit(None).cast("long").alias("event_id"),
                F.lit(None).cast("string").alias("event_type"),
                F.lit(None).cast("double").alias("value"),
            )
            side1 = batch_df.select(
                "user_id",
                "ts",
                F.lit(1).alias("side"),
                F.lit(None).cast("string").alias("seg"),
                "event_id",
                "event_type",
                "value",
            )
            w = (
                W.partitionBy("user_id")
                .orderBy("ts", "side", "event_id")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            enriched = (
                side0.unionByName(side1)
                .select(
                    "side",
                    "event_type",
                    "value",
                    F.last("seg", ignorenulls=True).over(w).alias("seg_at"),
                )
                .filter(F.col("side") == 1)
                .select("seg_at", "event_type", "value")
            )
            # Idempotent per-batch landing: overwrite of this batch's own
            # partition dir; an at-least-once redelivery rewrites the same
            # bytes instead of appending duplicates.
            enriched.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch_id={batch_id}")
            )
            written.record(landed, enriched)

        _drain(_staged_events(spark, sf_dir), enrich)
        out = (
            written.read(spark, landed)
            .groupBy(F.col("seg_at").alias("segment"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(dec6("value")).cast("double").alias("total_value"),
            )
            .orderBy("segment", "event_type")
        )
        return spark.createDataFrame(out.collect(), schema=out.schema)


# ---------------------------------------------------------------------------
# Streaming KMV sketch maintenance — the stream twin of
# agg_kmv_incremental: each microbatch's k-row sketch folds into a
# standing k-row state table, so distinct-cardinality (and, via
# agg_kmv_intersection's estimator, audience overlap) stays queryable
# at any moment with O(k) state — no per-member state, no rescan.
# ---------------------------------------------------------------------------

_KMV_STREAM_K = 64
KMV_SALT = "kmv8"  # the KMV hash salt of every sketch, batch and stream


def _kmv_h(col):  # noqa: ANN001, ANN202
    return md5_int(col, KMV_SALT, 13) / F.lit(H52_SPAN)


def make_kmv_fold_sink(tbl_root: str):  # noqa: ANN201
    """The k-min-values fold of ``kmv_sketch_stream`` on the
    ``_versioned_fold`` commit: each batch's k-row sketch of hashed
    user ids merges with the standing sketch (union → distinct →
    k-min). The fold is idempotent, so a replay is safe by algebra as
    well as by the version marker."""

    def kmin(hashes: DataFrame) -> DataFrame:
        return hashes.select("h").distinct().orderBy("h").limit(_KMV_STREAM_K)

    def merge(batch_df, standing):  # noqa: ANN001, ANN202
        sketch = kmin(batch_df.select(_kmv_h(F.col("user_id")).alias("h")))
        return sketch if standing is None else kmin(standing.unionByName(sketch))

    return _versioned_fold(tbl_root, merge)


def kmv_sketch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch KMV maintenance: 3 microbatches each build their
    own k-row sketch and FOLD it into the standing sketch table. KMV
    mergeability (proved on data by agg_kmv_incremental) guarantees
    the drained state equals the sketch built directly from the full
    corpus — which the DuckDB oracle rebuilds, so the driver
    hash-checks the entire streaming fold. State is k rows REGARDLESS
    of stream length: at 100 TB this is the always-on distinct /
    overlap dashboard with O(k) memory per (segment, window)."""
    with _run_dir("kmv_tbl") as tbl_root:
        fold = make_kmv_fold_sink(tbl_root)
        _drain(_staged_events(spark, sf_dir), fold)
        est = fold.read_committed(spark).agg(
            F.count(F.lit(1)).alias("m"), F.max("h").alias("kth")
        )
        exact = catalog.load_table(spark, sf_dir, "events").agg(
            F.countDistinct("user_id").alias("exact_users")
        )
        union_est = F.when(
            F.col("m") < _KMV_STREAM_K, F.col("m").cast("double")
        ).otherwise(F.lit(float(_KMV_STREAM_K - 1)) / F.col("kth"))
        return materialize(
            est.crossJoin(F.broadcast(exact)).select(
                F.lit(_KMV_STREAM_K).alias("k"),
                "m",
                "exact_users",
                F.round(union_est, 6).alias("union_est"),
            ),
            eager=True,
        )


_TOPK_STREAM_K = 3  # maintained leaderboard depth per event_type


def make_topk_fold_sink(tbl_root: str):  # noqa: ANN201
    """The EXACT per-event_type top-k fold on the ``_versioned_fold``
    commit — the streaming leaderboard: each batch ranks itself, keeps
    its per-type top-k, merges with the standing k rows, and re-ranks
    (top-k selection is a semilattice: topk(topk(A) ∪ topk(B)) =
    topk(A ∪ B), proved in the algebra the agg_kmv family uses). State
    is k·|types| rows regardless of stream length. The fold is also
    idempotent (re-merging folded rows is a no-op under distinct+rank),
    so replay is safe by algebra as well as by the version marker."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("event_type").orderBy(F.col("v").desc(), "event_id")

    def top(rows: DataFrame) -> DataFrame:
        return (
            rows.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _TOPK_STREAM_K)
            .drop("rk")
        )

    def merge(batch_df, standing):  # noqa: ANN001, ANN202
        topb = top(
            batch_df.select(
                "event_type",
                "event_id",
                money("value").alias("v"),
            )
        )
        if standing is not None:
            topb = standing.unionByName(topb).dropDuplicates(["event_type", "event_id"])
        return top(topb)

    return _versioned_fold(tbl_root, merge)


def topk_maintain_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k leaderboard maintenance via foreachBatch: the
    events stream (3 microbatches) maintains the per-event_type top-3
    values table; after the drain the table must equal the one-shot
    batch top-k, which the driver hash-checks. At 100 TB this is the
    always-on 'largest transactions' dashboard — per-batch state is
    k·|types| rows and the merge is map-side trivial."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("event_type").orderBy(F.col("v").desc(), "event_id")
    with _run_dir("topk_tbl") as tbl_root:
        fold = make_topk_fold_sink(tbl_root)
        _drain(_staged_events(spark, sf_dir), fold)
        return materialize(
            fold.read_committed(spark)
            .withColumn("rk", F.row_number().over(w))
            .select(
                "event_type",
                F.col("rk").cast("bigint").alias("rank"),
                "event_id",
                F.col("v").cast("double").alias("value"),
            )
            .orderBy("event_type", "rank"),
            eager=True,
        )
