"""Self-tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT), str(ROOT / "tools")]

import cpu  # noqa: E402
import eventlog  # noqa: E402
import oracle  # noqa: E402
from stats import tail, union_length  # noqa: E402


@pytest.mark.parametrize(
    "n, rank, pct",
    [
        (30, 20, 100 * 20 / 30),  # 10 calls above rank 20
        (24, 14, 100 * 14 / 24),
        (11, 1, 100 / 11),  # the smallest count with a qualifying percentile
        (10, 10, 100.0),  # none qualifies: the maximum, reported as p100
        (1, 1, 100.0),
    ],
)
def test_tail_has_ten_calls_beyond(n, rank, pct):
    latencies = [float(i) for i in range(n, 0, -1)]  # unsorted on purpose
    value, got_pct = tail(latencies)
    assert value == float(rank)
    assert got_pct == pytest.approx(pct)
    if n > 10:
        assert sum(1 for x in latencies if x > value) == 10


def test_union_length_merges_overlaps():
    assert union_length([(1, 3), (2, 5), (7, 8), (7.5, 7.6)]) == 5
    assert union_length([]) == 0


def test_eventlog_folds_jobs_into_calls():
    log = eventlog.parse(str(HERE / "fixtures" / "eventlog_small.jsonl"))
    per = eventlog.per_call(log, [("call-a", 900, 2300), ("call-b", 2900, 3500)])
    a, b = per["call-a"], per["call-b"]
    # two tagged jobs plus the untagged one submitted inside call-a
    assert (a["jobs"], a["jobs_unattributed"], a["stages"]) == (3, 1, 3)
    assert (a["tasks"], a["tasks_failed"]) == (4, 1)
    assert (a["run_ms"], a["cpu_ms"], a["gc_ms"]) == (860, 660, 40)
    assert a["sched_delay_ms"] == 65 + 60 + 80 + 20
    assert (a["shuffle_write_records"], a["shuffle_write_bytes"]) == (100, 4000)
    assert (a["shuffle_read_bytes"], a["fetch_wait_ms"]) == (4000, 7)
    assert (a["spill_memory_bytes"], a["spill_disk_bytes"]) == (64, 32)
    assert (a["output_bytes"], a["output_records"]) == (2048, 20)
    assert (a["stream_batches"], a["stream_batch_ms"]) == (1, 45)
    # [1000,1500] u [1400,2000] u [2100,2200]
    assert a["job_union_ms"] == 1100
    assert (b["jobs"], b["jobs_unattributed"], b["tasks"]) == (1, 0, 1)
    assert (b["run_ms"], b["sched_delay_ms"], b["job_union_ms"]) == (300, 78, 400)


def _snapshot(jvm, threads, client, steal, total):
    s = object.__new__(cpu.Snapshot)
    s.jvm, s.threads, s.client, s.steal, s.total = jvm, threads, client, steal, total
    return s


def test_cpu_between_splits_the_jvm_by_thread_group():
    a = _snapshot(10.0, {1: ("Executor task l", 2.0), 2: ("C2 CompilerThre", 3.0),
                         3: ("GC Thread#0", 1.0), 4: ("dag-scheduler-e", 0.5)},
                  client=4.0, steal=100, total=1000)
    # thread 5 is a new executor thread; thread 4 ended (its time stays in
    # the process total and so lands in "driver")
    b = _snapshot(16.0, {1: ("Executor task l", 3.0), 2: ("C2 CompilerThre", 3.5),
                         3: ("GC Thread#0", 1.25), 5: ("Executor task l", 0.75)},
                  client=4.5, steal=150, total=1500)
    d = cpu.between(a, b)
    assert d["executor"] == pytest.approx(1.75)
    assert (d["jit"], d["gc"]) == (pytest.approx(0.5), pytest.approx(0.25))
    assert d["driver"] == pytest.approx(6.0 - 1.75 - 0.5 - 0.25)
    assert (d["client"], d["total"]) == (pytest.approx(0.5), pytest.approx(6.5))
    assert d["steal_frac"] == pytest.approx(0.1)


@dataclass
class _Spec:
    oracle: str


def test_oracle_check_flags_a_wrong_result(tmp_path):
    from sales_agent_graphdb_spark.catalog import TABLES

    for t in TABLES:
        pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]}), tmp_path / f"{t}.parquet")
    specs = {"q": _Spec("SELECT k, v * 2 AS w FROM region")}
    expected = oracle.answers(specs, ["q"], str(tmp_path))["q"]
    cols = ["k", "w"]
    right = [(3, 5.0), (1, 1.0), (2, 3.0)]
    assert oracle.check(expected, right, cols) is None
    assert "value hash" in oracle.check(expected, [(1, 1.0), (2, 3.0), (3, 5.000001)], cols)
    assert "row count" in oracle.check(expected, right[:2], cols)
    assert "columns" in oracle.check(expected, right, ["k", "x"])
    failing = oracle.answers({"q": _Spec("SELECT nope FROM region")}, ["q"], str(tmp_path))["q"]
    assert oracle.check(failing, right, cols).startswith("oracle error")
