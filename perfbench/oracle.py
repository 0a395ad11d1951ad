"""Output check: each distinct query's result against its DuckDB oracle,
with the comparison tools/driver_protocol.py defines (row count, column
names, and the order-insensitive value hash)."""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from driver_protocol import make_duck, vhash


def answers(specs: dict, names: list[str], sf_dir: str, cache_dir: str | None = None) -> dict:
    """{name: [row count, sorted column names, value hash]} computed by
    DuckDB over the same parquet files, or an error string.

    With ``cache_dir``, an answer is kept in a file named by the hash of
    its oracle SQL and the data directory's generator version, and
    reused while both are unchanged."""
    con = None
    out = {}
    try:
        for name in names:
            sql = specs[name].oracle
            path = None
            if cache_dir:
                version = Path(sf_dir, "_GEN_VERSION").read_text()
                key = hashlib.md5(f"{version}\n{sql}".encode()).hexdigest()
                path = Path(cache_dir, f"{key}.json")
                if path.exists():
                    out[name] = json.loads(path.read_text())
                    continue
            con = con or make_duck(sf_dir)
            try:
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                out[name] = [len(rows), sorted(cols), vhash(rows, cols)]
            except Exception as exc:  # noqa: BLE001 — reported as a failed check
                out[name] = f"oracle error: {type(exc).__name__}: {exc}"[:300]
                continue
            if path:
                path.parent.mkdir(parents=True, exist_ok=True)
                path.write_text(json.dumps(out[name]))
        return out
    finally:
        if con is not None:
            con.close()


def check(expected, rows: list, cols: list[str]) -> str | None:
    """None when ``rows``/``cols`` match ``expected``; else why not."""
    if isinstance(expected, str):
        return expected
    n, ocols, ohash = expected
    if len(rows) != n:
        return f"row count {len(rows)} != oracle {n}"
    if sorted(cols) != ocols:
        return f"columns {sorted(cols)} != oracle {ocols}"
    try:
        got = vhash([tuple(r) for r in rows], cols)
    except TypeError as exc:
        return f"unhashable result: {exc}"
    if got != ohash:
        return f"value hash {got} != oracle {ohash}"
    return None
