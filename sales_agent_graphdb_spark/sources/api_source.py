"""S8 — external API source as a first-class pluggable Spark source.

The reference ingests products from an external HTTP API in service
code (reference scraper_service.py: fetch → parse → insert). The
Spark-first re-expression is the Python DataSource V2 API (Spark 4):
a custom ``product_api`` format whose reader paginates the endpoint —
one InputPartition per page, so pages are fetched IN PARALLEL across
executors and land directly in the scan, with no driver-side loop and
no intermediate landing table.

The "API" here is simulated by paged JSON-lines files derived from the
testdata part table (this container has no network); a real deployment
replaces ``_read_page``'s file open with the HTTP GET for that page —
partitioning, schema, Arrow batching, and the query on top are
unchanged. Pages are Arrow ``RecordBatch`` objects parsed with an
explicit schema (the vectorized DataSource path), never row-at-a-time
Python tuples.
"""

from __future__ import annotations


import os

import pyarrow as pa

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.sources import stamp

_SCHEMA_DDL = "p_partkey bigint, p_name string, p_brand string, p_retailprice double"
_ARROW_SCHEMA = pa.schema(
    [
        ("p_partkey", pa.int64()),
        ("p_name", pa.string()),
        ("p_brand", pa.string()),
        ("p_retailprice", pa.float64()),
    ]
)
_N_PAGES = 8
_VERSION = "v1"  # layout recipe tag (stamp protocol)


def _build_product_api_classes():
    """Build the DataSource/Reader classes INSIDE a function scope so
    cloudpickle serializes them BY VALUE (their qualname is not
    importable), with all heavy imports local to the methods. The
    DataSource class is pickled to every Python worker that executes a
    scan; a module-level class would be pickled by reference and fail
    with ModuleNotFoundError whenever the driver process cwd doesn't
    make this package importable on workers (observed when the driver
    contract runs from /tmp). Same self-contained-closure rule as every
    other Python-boundary operator in this repo (SCALE.md)."""
    arrow_schema = _ARROW_SCHEMA  # closed over; pa.Schema pickles by value
    schema_ddl = _SCHEMA_DDL

    class ProductApiReader(DataSourceReader):
        def __init__(self, options: dict):
            self._endpoint = options["endpoint"]

        def partitions(self):
            # One partition per page file = the API's pagination,
            # mapped to scan parallelism. Sorted for a deterministic
            # partition list.
            import glob as _glob
            import os as _os

            pages = sorted(
                _glob.glob(_os.path.join(self._endpoint, "page=*", "*.json"))
            )
            if not pages:
                raise FileNotFoundError(
                    f"product_api: no pages under {self._endpoint}"
                )
            return [InputPartition(p) for p in pages]

        def read(self, partition):
            # Arrow-batched: parse the page with the EXPLICIT schema
            # (no inference drift) and yield RecordBatches — the
            # vectorized DataSource path. A real API swaps the file
            # open for an HTTP GET; everything else stays.
            import pyarrow.json as _pa_json

            table = _pa_json.read_json(
                partition.value,
                parse_options=_pa_json.ParseOptions(explicit_schema=arrow_schema),
            )
            yield from table.to_batches()

    class ProductApiDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "product_api"

        def schema(self) -> str:
            return schema_ddl

        def reader(self, schema) -> ProductApiReader:
            return ProductApiReader(self.options)

    return ProductApiDataSource, ProductApiReader


ProductApiDataSource, ProductApiReader = _build_product_api_classes()


def register_api_source(spark: SparkSession) -> None:
    """Idempotent registration of the ``product_api`` format."""
    spark.dataSource.register(ProductApiDataSource)


def ensure_api_pages(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the simulated endpoint: the part table written as
    8 JSON-lines pages (page = p_partkey % 8), source-stamped so a
    testdata regeneration rebuilds them. Returns the endpoint dir."""
    # Call-time import: sources_io imports this module.
    from sales_agent_graphdb_spark.queries.sources_io import SCRATCH

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_") or "sf"
    endpoint = f"{SCRATCH}/api_pages/{tag}"
    src = f"{sf_dir}/part.parquet"
    def _build_pages() -> None:
        part = catalog.load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_name", "p_brand", "p_retailprice"
        )
        (
            part.withColumn("page", F.col("p_partkey") % _N_PAGES)
            .repartition(1)  # one file per page dir: page count == file count
            .write.partitionBy("page")
            .mode("overwrite")
            .json(endpoint)
        )

    stamp.ensure(endpoint, src, _VERSION, _build_pages)
    return endpoint


def _build_product_api_stream_classes():
    """S8b — the STREAMING twin of the API source: a Python
    DataSource `simpleStreamReader` that polls the paginated endpoint
    as micro-batch offsets ({"page": N} → one page per batch, offset
    advances past consumed pages, empty read at the tail signals
    caught-up). A real deployment swaps the page-file read for the
    HTTP GET with a cursor param; offsets, recovery (readBetweenOffsets
    replays a committed range after restart) and the query on top are
    unchanged. Same closure-scope pickling rule as the batch classes
    above."""
    schema_ddl = _SCHEMA_DDL

    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class ProductApiStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options: dict):
            self._endpoint = options["endpoint"]
            # Simulates the endpoint's state at a point in time: serve
            # only the first N pages (0 = everything). The restart
            # query (s8c) drains a 3-page prefix, stops, then resumes
            # the SAME checkpoint against the full endpoint — the
            # production restart-as-new-data-lands shape.
            self._max_pages = int(options.get("max_pages", "0") or 0)

        def initialOffset(self):
            return {"page": 0}

        def _page_rows(self, page_idx: int):
            import glob as _glob
            import json as _json
            import os as _os

            pages = sorted(_glob.glob(_os.path.join(self._endpoint, "page=*")))
            if self._max_pages:
                pages = pages[: self._max_pages]
            if page_idx >= len(pages):
                return None
            rows = []
            for f in sorted(_glob.glob(_os.path.join(pages[page_idx], "*.json"))):
                with open(f) as fh:
                    for line in fh:
                        d = _json.loads(line)
                        rows.append(
                            (
                                d["p_partkey"],
                                d["p_name"],
                                d["p_brand"],
                                d["p_retailprice"],
                            )
                        )
            return rows

        def read(self, start):
            rows = self._page_rows(start["page"])
            if rows is None:  # past the last page: caught up, offset holds
                return iter([]), start
            return iter(rows), {"page": start["page"] + 1}

        def readBetweenOffsets(self, start, end):
            # Deterministic replay of [start, end) for recovery.
            out = []
            for p in range(start["page"], end["page"]):
                rows = self._page_rows(p)
                if rows:
                    out.extend(rows)
            return iter(out)

    class ProductApiStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "product_api_stream"

        def schema(self) -> str:
            return schema_ddl

        def simpleStreamReader(self, schema) -> ProductApiStreamReader:
            return ProductApiStreamReader(self.options)

    return ProductApiStreamSource, ProductApiStreamReader


ProductApiStreamSource, ProductApiStreamReader = _build_product_api_stream_classes()


def register_api_stream_source(spark: SparkSession) -> None:
    """Idempotent registration of the ``product_api_stream`` format."""
    spark.dataSource.register(ProductApiStreamSource)


def _build_api_sink_classes():
    """S15 — the WRITER half of the custom-connector story (the reader
    is S8): a Python DataSource sink that 'POSTs' each partition as
    one JSON-lines batch. Same closure-scope build as the reader so
    cloudpickle ships the classes by value to executors.

    Commit protocol (the exactly-once batch-sink contract): every task
    writes to a staging name no reader looks at and reports it in its
    WriterCommitMessage; ONLY driver-side commit() publishes the
    staged files (rename + manifest). A failed/speculated task's
    orphan staging file is never published, and abort() removes the
    staging dir — so readers observe the write atomically or not at
    all. A real API deployment replaces the rename with the batch
    POST + idempotency key; the task/commit split is unchanged."""
    import dataclasses

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        WriterCommitMessage,
    )

    @dataclasses.dataclass
    class _Staged(WriterCommitMessage):
        path: str
        rows: int

    class ApiSinkWriter(DataSourceArrowWriter):
        # r12 optimization (guide §4.1): DataSourceArrowWriter instead
        # of the row-iterator DataSourceWriter — the JVM ships whole
        # Arrow record batches to the Python worker instead of pickling
        # every Row (the row path was the sink's dominant cost: one
        # pickle + Row construction + asDict per row). The JSON bytes
        # are unchanged: to_pylist() yields plain dicts in schema order
        # with Python floats, so json.dumps emits the same shortest
        # round-trip reprs the Row path produced.
        def __init__(self, options: dict):
            self._target = options["path"]

        def write(self, iterator):
            import json as _json
            import os as _os
            import uuid as _uuid

            staging = _os.path.join(self._target, "_staging")
            _os.makedirs(staging, exist_ok=True)
            path = _os.path.join(staging, f"{_uuid.uuid4().hex}.json")
            n = 0
            dumps = _json.dumps
            with open(path, "w") as f:
                for batch in iterator:
                    rows = batch.to_pylist()
                    f.write("\n".join(dumps(r) for r in rows))
                    if rows:
                        f.write("\n")
                    n += len(rows)
            return _Staged(path=path, rows=n)

        def commit(self, messages):
            import json as _json
            import os as _os
            import shutil as _shutil

            published = []
            for i, m in enumerate(messages):
                final = _os.path.join(self._target, f"batch-{i:05d}.json")
                _os.replace(m.path, final)
                published.append({"file": _os.path.basename(final), "rows": m.rows})
            with open(_os.path.join(self._target, "_COMMITTED"), "w") as f:
                _json.dump(published, f)
            _shutil.rmtree(
                _os.path.join(self._target, "_staging"), ignore_errors=True
            )

        def abort(self, messages):
            import os as _os
            import shutil as _shutil

            _shutil.rmtree(
                _os.path.join(self._target, "_staging"), ignore_errors=True
            )

    class ApiSinkDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "api_sink"

        def writer(self, schema, overwrite):
            return ApiSinkWriter(self.options)

    return ApiSinkDataSource, ApiSinkWriter


ApiSinkDataSource, ApiSinkWriter = _build_api_sink_classes()


def register_api_sink(spark: SparkSession) -> None:
    """Idempotent registration of the ``api_sink`` format."""
    spark.dataSource.register(ApiSinkDataSource)
