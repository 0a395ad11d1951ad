"""Targeted driver-protocol check: run NAMED queries vs their DuckDB
oracles with the exact comparison drive_entry.py uses (shared via
tools/driver_protocol.py). For fast iteration on individual queries
without the full registry sweep.

Run: python tools/check_queries.py name1 name2 ...  [--sf /root/testdata/sf0.01]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from driver_protocol import compare, make_duck, make_spark  # noqa: E402

from sales_agent_graphdb_spark.registry import all_queries  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        if i + 1 >= len(args):
            sys.exit("usage: check_queries.py name... [--sf DIR] (--sf needs a value)")
        sf = args[i + 1]
        args = args[:i] + args[i + 2:]
    if not args:
        sys.exit("usage: check_queries.py name... [--sf DIR] (no query names given)")

    specs = all_queries()
    unknown = [n for n in args if n not in specs]
    if unknown:
        sys.exit(f"unknown query names (before Spark startup): {unknown}")

    spark = make_spark("check_queries")
    con = make_duck(sf)

    fails = []
    for name in args:
        spec = specs[name]
        rec, srows, orows = compare(spec.fn(spark, sf), con, spec.oracle)
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
    print("FAILURES:", fails if fails else "none")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
