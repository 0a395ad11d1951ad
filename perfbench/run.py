#!/usr/bin/env python3
"""Closed-loop benchmark of the engine at local[nproc].

    python3 perfbench/run.py --workload lookup_mix --seed 1 --seconds 12 --trace 0

One client calls the workload's registered queries one after another
(``spec.fn(spark, sf_dir)`` then the noop-sink write ``bench.py``
uses), each pass in an order drawn from ``--seed``. A run:

1. generates the input tables (perfbench/gen.py) and the DuckDB oracle
   answers for the workload's queries;
2. clears the engine's layout directories and starts a fresh session
   (set-up starts here);
3. runs one untimed pass that builds the stamped layouts, warms the
   JVM and checks every query's result against its oracle;
4. runs the timed window: a fixed number of whole passes, reading the
   CPU time of the JVM and the client (perfbench/cpu.py) around it;
5. prints the latency, throughput, memory and error figures, then the
   metrics named in BENCHMARK.json as the JSON result, last.

``--trace 1`` adds an event log, job groups and layer wrappers, and
prints the per-layer metrics instead; per-call layer numbers and spans
go to perfbench/.state/traces/. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

T_PROC = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = HERE / ".state"
DRIVER_MEM = "4g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Codegen:
    """Cumulative Janino compile count and time, read through py4j."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def read(self) -> tuple[int, float]:
        return self._hist.getCount(), self._gen.compileTime() / 1e6


def stop_spark(spark) -> None:
    """Stop the session, then close the py4j gateway and wait for the
    JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    # The engine and the driver-protocol helpers come from the checkout.
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]
    try:
        import driver_protocol  # noqa: F401
        import sales_agent_graphdb_spark.registry  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 3

    run_dir = STATE / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        return _run(args, bench, wl, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, bench, wl, run_dir: Path) -> int:
    import cpu
    import gen
    import instrument
    import oracle
    from sales_agent_graphdb_spark import registry, session

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # A fixed heap, large enough that garbage collection stays a small
    # and steady share of the window's CPU time (at 2g it swung 1-2.6 s
    # per batch_mix call), yet well below the 8g the engine defaults to.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sf_dir = gen.ensure(str(STATE / "data"))

    tracer = instrument.Tracer() if args.trace else None
    if tracer:
        instrument.wrap_layers(tracer)
    specs = registry.all_queries()  # imports the query modules
    from sales_agent_graphdb_spark.queries import sources_io
    missing = [q for q in wl.queries if q not in specs or not specs[q].oracle]
    if missing:
        print(f"queries missing or without an oracle: {missing}", file=sys.stderr)
        return 4
    # Every layout the engine materializes goes under this run's own
    # directory, which starts empty: set-up always pays the cold builds
    # and no run sees another's layouts.
    instrument.redirect_paths(sources_io.SCRATCH, str(run_dir / "scratch"))
    instrument.redirect_paths(str(ROOT / "spark-warehouse"), str(run_dir / "warehouse"))

    expected = oracle.answers(specs, list(wl.queries), sf_dir, str(STATE / "oracle"))

    # Temporary files stay in the run directory too: every JVM started
    # from here (the launcher and the driver) has its perf-data file off
    # and its temp dir in the run, and so has Python.
    (run_dir / "tmp").mkdir()
    os.environ["TMPDIR"] = tempfile.tempdir = str(run_dir / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    conf = {"spark.sql.warehouse.dir": str(run_dir / "warehouse")}
    if tracer:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(run_dir / "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
        (run_dir / "eventlog").mkdir()

    rng = random.Random(args.seed)
    passes = max(1, round(args.seconds / wl.pass_s))
    # The traced run pairs each traced pass with a reference pass (no
    # spans, no codegen reads) to measure the tracing overhead in the
    # same process, alternating which side of a pair goes first.
    if tracer:
        plan = [k for p in range(max(1, passes // 2))
                for k in (("ref", "traced"), ("traced", "ref"))[p % 2]]
    else:
        plan = ["timed"] * passes
    orders = [rng.sample(wl.queries, len(wl.queries)) for _ in range(1 + len(plan))]

    t_setup = time.perf_counter()
    spark = session.get_spark(app_name="perfbench", extra_conf=conf)
    try:
        session_s = time.perf_counter() - t_setup
        sc = spark.sparkContext
        if tracer:
            codegen = Codegen(spark)
            instrument.wrap_checkpoint(spark, tracer)

        calls: list[dict] = []

        def call(cid: str, name: str, kind: str, collect: bool):
            rec = {"id": cid, "query": name, "kind": kind, "error": None}
            traced = tracer is not None and kind != "ref"
            if tracer:
                sc.setJobGroup(cid, f"perfbench {kind}: {name}")
            if traced:
                tracer.begin(cid)
                rec["codegen0"] = codegen.read()
            rec["start"] = time.time()
            t0 = time.perf_counter()
            rows = cols = None
            try:
                df = specs[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
                if collect:
                    rows, cols = df.collect(), df.columns
                else:
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
            except Exception as exc:  # noqa: BLE001 — a failed call is counted, the loop goes on
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if traced:
                tracer.end()
                rec["codegen1"] = codegen.read()
            calls.append(rec)
            return rec, rows, cols

        # Untimed warm-up pass doubling as the once-per-run output check.
        bad: dict[str, str] = {}
        hash_s = 0.0
        for i, name in enumerate(orders[0]):
            rec, rows, cols = call(f"setup-{i}", name, "setup", collect=True)
            t0 = time.perf_counter()
            why = rec["error"] or oracle.check(expected[name], rows, cols)
            hash_s += time.perf_counter() - t0
            if why:
                bad[name] = why

        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        cpu0 = cpu.Snapshot(jvm_pid)
        t_win = time.perf_counter()
        setup_s = t_win - t_setup - hash_s
        for p, kind in enumerate(plan):
            for i, name in enumerate(orders[1 + p]):
                call(f"{kind}-{p}-{i}", name, kind, collect=False)
        window_s = time.perf_counter() - t_win
        window_cpu = cpu.between(cpu0, cpu.Snapshot(jvm_pid))
        peak_rss_mb = vm_hwm_mb(jvm_pid)
    finally:
        stop_spark(spark)

    measured = [c for c in calls if c["kind"] in ("timed", "traced")]
    n_window = sum(1 for c in calls if c["kind"] in ("timed", "traced", "ref"))
    failed = sum(1 for c in measured if c["error"] or c["query"] in bad)
    ok = [c["wall_s"] for c in measured if not c["error"]]
    if not ok:
        print("every timed call failed", file=sys.stderr)
        return 5
    from stats import tail

    tail_s, tail_pct = tail(ok)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(ok),
        "latency_tail_s": tail_s,
        # Calls per second of the timed window; in a traced run only the
        # traced passes count.
        "calls_per_s": len(measured) / (
            window_s if not tracer else sum(c["wall_s"] for c in measured)
        ),
        "peak_rss_mb": peak_rss_mb,
        "error_rate": failed / len(measured),
        # CPU seconds of the JVM and the client per call of the window
        # (in a traced run, the reference passes are in the window too).
        "cpu_s_per_call": window_cpu["total"] / n_window,
    }
    units = {"setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
             "calls_per_s": "1/s", "peak_rss_mb": "MB", "error_rate": "ratio",
             "cpu_s_per_call": "s"}
    print(f"workload {wl.name}: {len(measured)} timed calls in {len(plan)} passes, "
          f"local[{os.environ['SPARK_GRAFT_CPUS']}], seed {args.seed}")
    for k, v in e2e.items():
        print(f"  {k:16s} {v:12.4f} {units[k]}")
    print(f"  latency_tail_s is p{tail_pct:.1f} of {len(ok)} calls "
          f"(the highest percentile with >= 10 calls beyond it; p100 when n <= 10)")
    for name in wl.queries:
        walls = " ".join(f"{c['wall_s']:.2f}" for c in measured if c["query"] == name)
        print(f"  {name:36s} {walls} s")
    pass_s = {}
    for c in calls:
        key = c["id"].rsplit("-", 1)[0]
        pass_s[key] = pass_s.get(key, 0.0) + c["wall_s"]
    print("  pass walls: " + " ".join(f"{k}={v:.2f}" for k, v in pass_s.items()))
    print(f"  machine steal in the window {window_cpu['steal_frac']:.3f}; CPU s per call: "
          + " ".join(f"{k} {window_cpu[k] / n_window:.4f}"
                     for k in ("executor", "jit", "gc", "driver", "client")))
    print(f"  before set-up {t_setup - T_PROC:.1f} s, whole run so far "
          f"{time.perf_counter() - T_PROC:.1f} s")
    for name, why in sorted(bad.items()):
        print(f"  ORACLE MISMATCH {name}: {why}")
    for c in measured:
        if c["error"]:
            print(f"  CALL FAILED {c['query']}: {c['error']}")

    if tracer:
        import layers

        metrics = layers.summarize(calls, tracer, run_dir / "eventlog", session_s)
        metrics["jvm.peak_rss_mb"] = peak_rss_mb
        for k in ("executor", "jit", "gc", "driver", "client"):
            metrics[f"cpu.{k}_s"] = window_cpu[k] / n_window
        metrics["host.steal_frac"] = window_cpu["steal_frac"]
        layers.write_trace(STATE / "traces" / f"{wl.name}-seed{args.seed}.json",
                           calls, tracer, metrics, e2e)
        wanted = bench["per_layer"]
        for m in wanted:
            print(f"  {m['name']:44s} {metrics.get(m['name'], 0.0):14.4f} {m['unit']}")
    else:
        metrics = e2e
        wanted = bench["end_to_end"]
    result = {
        "correct": not bad and failed == 0,
        "attempted": len(measured),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
