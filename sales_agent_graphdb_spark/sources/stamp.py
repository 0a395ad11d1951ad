"""Source-freshness stamps for materialized layouts (ANN indexes,
clustered table rewrites): a marker file records the source parquet's
``mtime:size`` so repeated queries in a round reuse the expensive
ingest-side write, while any testdata regeneration invalidates it
automatically. ONE protocol definition (review r03: it was hand-rolled
per site); its consumers are the ANN indexes (queries/ann_search.py),
the clustered and snapshot layouts (queries/sources_io.py,
queries/mutations.py), the API pages (sources/api_source.py) and the
streaming sources (streaming/pipelines.py: the 3-file events staging
and the sentinel sources)."""

from __future__ import annotations

import os
from pathlib import Path

_MARKER = "_SRC_STAMP"


def src_stamp(src_path: str, version: str = "") -> str:
    base = f"{os.path.getmtime(src_path)}:{os.path.getsize(src_path)}"
    return f"{base}:{version}" if version else base


def is_fresh(layout_dir: str, src_path: str, version: str = "") -> bool:
    """True iff the materialized layout at ``layout_dir`` was built from
    the CURRENT source file with the CURRENT layout recipe. ``version``
    is the recipe tag: a site that changes how it lays data out bumps
    its tag so stale layouts rebuild instead of being silently reused
    (the source file alone can't see code changes)."""
    try:
        return (Path(layout_dir) / _MARKER).read_text() == src_stamp(
            src_path, version
        )
    except OSError:
        return False


def mark(layout_dir: str, src_path: str, version: str = "") -> None:
    (Path(layout_dir) / _MARKER).write_text(src_stamp(src_path, version))


def ensure(layout_dir: str, src_path: str, version: str, build, valid=None) -> None:
    """Build-once guard for a materialized layout: fresh fast-path
    (no lock, the per-round common case), else serialize builders on
    an exclusive lock file BESIDE the layout and re-check freshness
    under the lock — so of N sessions racing a missing/stale layout
    exactly ONE builds and the rest wait and reuse it. This closes the
    measured first-build race (r09: two sessions racing a cold layout,
    each's overwrite deleting bucket files under the other's scan;
    fixed for the graph projection by version-addressing, generalized
    here for every stamped layout).

    Residual exposure, documented: the lock serializes BUILDERS; a
    reader session holding an old file listing across a GENUINE
    stale-stamp rebuild (testdata regeneration or recipe bump — never
    within a normal round, where stamps stay fresh) can still observe
    the overwrite. Where that matters operationally, use the
    version-addressed atomic-rename publication instead
    (queries/graphq.py:_order_brand_pairs is the template).

    ``valid`` (optional zero-arg predicate) extends the freshness
    check for layouts with driver-side sidecars: a fresh stamp with a
    corrupt/missing sidecar still rebuilds (under the same lock).
    fcntl is POSIX-only, matching the local[*] deployment; a
    multi-host cluster would use version-addressed publication."""
    import fcntl

    def _ok() -> bool:
        return is_fresh(layout_dir, src_path, version) and (
            valid is None or valid()
        )

    if _ok():
        return
    parent = os.path.dirname(layout_dir.rstrip("/"))
    if parent:
        os.makedirs(parent, exist_ok=True)
    with open(layout_dir.rstrip("/") + ".lock", "w") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        try:
            if _ok():
                return  # another session finished the build while we waited
            build()
            mark(layout_dir, src_path, version)
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)
