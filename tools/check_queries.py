"""Targeted driver-protocol check: run NAMED queries vs their DuckDB
oracles with the exact comparison drive_entry.py uses (shared via
tools/driver_protocol.py). For fast iteration on individual queries
without the full registry sweep.

A selector is a query name or a query module (``queries.tpch``): a
module selects every query whose function lives in it. With ``--json
OUT`` each query's neutrality record goes to OUT — Spark and oracle
row counts and value hashes, the expression-id-masked optimized
logical plan and the whitespace-collapsed oracle text — so two
commits can be compared by diffing two such files, each written by a
fresh process.

Run: python tools/check_queries.py SELECTOR ...  [--sf /root/testdata/sf0.01] [--json OUT]
"""
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from driver_protocol import compare, make_duck, make_spark  # noqa: E402

from sales_agent_graphdb_spark.registry import all_queries  # noqa: E402

USAGE = "usage: check_queries.py SELECTOR... [--sf DIR] [--json OUT]"


def _option(args: list[str], flag: str, default):
    if flag not in args:
        return args, default
    i = args.index(flag)
    if i + 1 >= len(args):
        sys.exit(f"{USAGE} ({flag} needs a value)")
    return args[:i] + args[i + 2:], args[i + 1]


def select(specs: dict, selectors: list[str]) -> list[str]:
    """Query names for ``selectors`` in registry order: a registered
    name selects itself, a module path (``queries.tpch`` or the full
    ``sales_agent_graphdb_spark.queries.tpch``) every query defined in
    that module. Exits on a selector that matches nothing."""
    chosen: set[str] = set()
    for sel in selectors:
        if sel in specs:
            chosen.add(sel)
            continue
        hits = {
            n for n, s in specs.items()
            if s.fn.__module__ == sel or s.fn.__module__.endswith("." + sel)
        }
        if not hits:
            sys.exit(f"unknown query name or module (before Spark startup): {sel}")
        chosen |= hits
    return [n for n in specs if n in chosen]


def masked_plan(sdf) -> str:
    """Optimized logical plan with expression ids (``#123``) and the
    per-session counter in lambda variable names (``lambda x_3489``)
    masked: both depend on what the session built before."""
    plan = re.sub(r"#\d+", "#", sdf._jdf.queryExecution().optimizedPlan().toString())
    return re.sub(r"(lambda \w+?)_\d+#", r"\1#", plan)


def main() -> None:
    args, sf = _option(sys.argv[1:], "--sf", "/root/testdata/sf0.01")
    args, out_path = _option(args, "--json", None)
    if not args:
        sys.exit(f"{USAGE} (no query names or modules given)")

    specs = all_queries()
    names = select(specs, args)

    spark = make_spark("check_queries")
    con = make_duck(sf)

    fails, out = [], {}
    for name in names:
        spec = specs[name]
        try:
            sdf = spec.fn(spark, sf)
            plan = masked_plan(sdf)
            rec, srows, orows = compare(sdf, con, spec.oracle)
        except Exception as exc:  # noqa: BLE001 — record, keep checking
            fails.append(name)
            out[name] = {"err": f"{type(exc).__name__}: {exc}"[:300]}
            print(f"  {name}: ERROR {out[name]['err'][:120]}")
            continue
        rec["plan"] = plan
        rec["oracle_text"] = " ".join(spec.oracle.split())
        out[name] = rec
        ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        if not ok:
            fails.append(name)
        print(
            f"  {name}: {'OK' if ok else 'MISMATCH'} rows={len(srows)}/{len(orows)}"
            f" cols_ok={rec['schema_match']} hash_ok={rec['hash_match']}"
        )
        if not ok and srows and orows:
            print(f"    spark[:2]={srows[:2]}")
            print(f"    oracle[:2]={orows[:2]}")
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
        print("wrote", out_path)
    print("FAILURES:", fails if fails else "none")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
