"""Driver simulation: what the spark-graft driver does to __spark_entry__.

Usage: python tools/drive_entry.py [--json OUT.json]

With --json, also writes a CORRECTNESS-style artifact ({name:
{rows_match, schema_match, hash_match, spark_rows, oracle_rows,
spark_hash, oracle_hash, err}})
covering the FULL registry — the committed evidence trail for queries
the budget-capped real driver never reaches (ADVICE r08 #4: the
changelog's "all green" claim must be backed by a committed artifact,
not a working-tree note).
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from driver_protocol import compare, make_duck, make_spark

import __spark_entry__ as E

out_path = None
if "--json" in sys.argv:
    out_path = sys.argv[sys.argv.index("--json") + 1]

spark = make_spark("drive_entry")

# 1. smoke: entry() at sf0.001
df = E.entry(spark)
rows = df.collect()
print("SMOKE entry rows:", len(rows), "schema:", [f.name for f in df.schema.fields])
print("  first row:", rows[0])

# 2. correctness: queries vs oracle at sf0.01 (driver protocol)
SF = "/root/testdata/sf0.01"
con = make_duck(SF)

qs, os_ = E.queries(), E.oracle_sql()
print(f"queries={len(qs)} oracles={len(os_)}")
fails = []
record: dict[str, dict] = {}
# Insertion order == the REAL driver's order (registry._driver_order);
# the first 50 printed here are exactly the driver's 50-slot budget.
for name, fn in qs.items():
    try:
        record[name], _, _ = compare(fn(spark, SF), con, os_[name])
    except Exception as exc:  # noqa: BLE001 — record, keep sweeping
        record[name] = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": f"{type(exc).__name__}: {exc}"[:300],
        }
        fails.append(name)
        print(f"  {name}: ERROR {record[name]['err'][:120]}")
        continue
    ok = record[name]["rows_match"] and record[name]["schema_match"] and record[name]["hash_match"]
    status = "OK" if ok else "MISMATCH"
    if not ok:
        fails.append(name)
    print(
        f"  {name}: {status} rows={record[name]['spark_rows']}/"
        f"{record[name]['oracle_rows']} cols_ok={record[name]['schema_match']} "
        f"hash_ok={record[name]['hash_match']}"
    )
print("FAILURES:", fails if fails else "none")
if out_path:
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=2)
    print("wrote", out_path)
