"""Paginated REST source (reference S6 ``ESRIServerSource`` analog).

The reference paginates an ArcGIS REST layer on the worker via EsriDumper
and materializes the whole FeatureCollection in memory (the reference's
``geobeam/io.py:512-594``). Here the feed is a PySpark
Python Data Source, ``spark.read.format("paginated_rest")``: pages are
fetched lazily INSIDE executor tasks, each partition owning a page range
and stopping early at the feed's end, so neither the driver nor any single
task ever holds the whole feed, and the page count need not be known up
front.

The HTTP layer is injectable (the ``fetcher`` option names a
``fetch_page(page_index) -> list[dict]`` function): tests use the
deterministic ``demo_fetch_page``; on a cluster point it at one built on
urllib/requests.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

# fetch_page(page_index) -> list of row dicts; empty list = no more pages
FetchPage = Callable[[int], list[dict]]


def _resolve_fetcher(spec: str) -> FetchPage:
    """'package.module:function' -> callable (import-by-path: executors
    rehydrate the fetcher without pickling a closure through options)."""
    import importlib

    mod_name, func_name = spec.split(":", 1)
    return getattr(importlib.import_module(mod_name), func_name)


class PaginatedRestReader(DataSourceReader):
    def __init__(self, schema, options):
        self._schema = schema
        self._fetcher_spec = options["fetcher"]
        self._pages_per_partition = int(options.get("pages_per_partition", "16"))
        self._max_pages = int(options.get("max_pages", "4096"))

    def partitions(self):
        n_parts = (self._max_pages + self._pages_per_partition - 1) // self._pages_per_partition
        return [InputPartition(i) for i in range(n_parts)]

    def read(self, partition):
        fetch_page = _resolve_fetcher(self._fetcher_spec)
        names = [f.name for f in self._schema.fields]
        lo = partition.value * self._pages_per_partition
        hi = min(lo + self._pages_per_partition, self._max_pages)
        for page in range(lo, hi):
            batch = fetch_page(page)
            if not batch:
                break  # feed exhausted within this range; later pages empty too
            for row in batch:
                yield tuple(row.get(n) for n in names)


class PaginatedRestDataSource(DataSource):
    """``spark.read.format("paginated_rest")`` — cursor pagination as a
    first-class splittable source.

    Options:
      fetcher              'module.path:function' resolving to
                           ``fetch_page(page_index) -> list[dict]``
      schema (DDL string)  passed via ``.schema(...)`` on the reader
      pages_per_partition  pages per task (default 16)
      max_pages            upper probe bound (default 4096)

    NOTE: page ranges beyond the feed's end cost one empty fetch per
    partition — the probe overhead for not knowing n_pages up front.
    """

    @classmethod
    def name(cls):
        return "paginated_rest"

    def reader(self, schema):
        return PaginatedRestReader(schema, self.options)


def register_rest_datasource(spark: SparkSession) -> bool:
    """Register the ``paginated_rest`` format with the session; always
    True (the Data Source API exists on every supported PySpark)."""
    spark.dataSource.register(PaginatedRestDataSource)
    return True


def demo_fetch_page(page: int) -> list[dict]:
    """Deterministic synthetic feed for tests/docs: 37 pages x 25 rows.
    Stands in for an HTTP fetcher (this sandbox has no network); a real
    deployment points ``fetcher`` at e.g. 'mypkg.arcgis:fetch_page'."""
    if page >= 37:
        return []
    return [
        {"feature_id": page * 25 + i, "name": f"f{page:03d}_{i:02d}", "page": page}
        for i in range(25)
    ]
