#!/usr/bin/env python
"""Per-query optimization profiler (round 12).

For each named query: execute via the noop sink (bench methodology)
and report wall seconds, Spark JOB count (each job = one driver-side
action barrier — the dominant fixed cost at small SF), stage/task
counts, plus final-plan operator tallies (Exchange / joins / Python
eval nodes / generators). Jobs are attributed via a job group per
query. Each run also reports the classes codegen compiled and the
compile milliseconds (the JVM-wide counters, read before and after the
run): a warm run that still compiles is missing from the session's
codegen cache.

Usage: python tools/query_profile.py name1 name2 ... [--sf DIR] [--runs N]
       python tools/query_profile.py --top 20        # slowest from BENCH_LOCAL
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sales_agent_graphdb_spark.registry import all_queries  # noqa: E402
from sales_agent_graphdb_spark.session import get_spark  # noqa: E402

PLAN_NODES = (
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "Generate",
    "Window",
    "Sort",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
)


def codegen_counters(spark) -> tuple[int, float]:
    """Cumulative (classes compiled, compile ms) of the session's JVM."""
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return hist.getCount(), gen.compileTime() / 1e6


def profile(spark, specs, name: str, sf_dir: str, runs: int) -> dict:
    sc = spark.sparkContext
    fn = specs[name].fn
    out: dict = {"name": name}
    walls, compiles, compile_ms = [], [], []
    for r in range(runs):
        tracker = sc.statusTracker()
        sc.setJobGroup(f"prof:{name}:{r}", name)
        n0, ms0 = codegen_counters(spark)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        n1, ms1 = codegen_counters(spark)
        sc.setJobGroup("", "")
        walls.append(round(wall, 3))
        compiles.append(n1 - n0)
        compile_ms.append(round(ms1 - ms0, 1))
        if r == 0:
            out["build_sec"] = round(t_build, 3)
            jobs = tracker.getJobIdsForGroup(f"prof:{name}:{r}") or []
            n_stages = 0
            n_tasks = 0
            for j in jobs:
                ji = tracker.getJobInfo(j)
                if ji:
                    for s in ji.stageIds:
                        si = tracker.getStageInfo(s)
                        if si:
                            n_stages += 1
                            n_tasks += si.numTasks
            out["jobs"] = len(jobs)
            out["stages"] = n_stages
            out["tasks"] = n_tasks
            try:
                plan = df._jdf.queryExecution().executedPlan().toString()
                tally = {}
                for node in PLAN_NODES:
                    c = len(re.findall(rf"\b{node}\b", plan))
                    if c:
                        tally[node] = c
                out["plan"] = tally
            except Exception as e:  # pragma: no cover
                out["plan_err"] = str(e)[:100]
    out["walls"] = walls
    out["codegen_compiles"] = compiles
    out["codegen_compile_ms"] = compile_ms
    return out


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    runs = 2
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--runs":
            runs = int(args[i + 1])
            i += 2
        elif args[i] == "--top":
            k = int(args[i + 1])
            i += 2
            repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            import glob

            side = sorted(glob.glob(os.path.join(repo, "BENCH_LOCAL_r*.json")))[-1]
            q = json.load(open(side))["queries"]
            names += [n for n, _ in sorted(q.items(), key=lambda kv: -kv[1])[:k]]
        else:
            names.append(args[i])
            i += 1

    spark = get_spark(app_name="query_profile")
    specs = all_queries()
    # session warmup (same as bench.py)
    specs["flagship_revenue_by_brand"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    for name in names:
        if name not in specs:
            print(json.dumps({"name": name, "err": "unknown"}))
            continue
        print(json.dumps(profile(spark, specs, name, sf_dir, runs)), flush=True)


if __name__ == "__main__":
    main()
