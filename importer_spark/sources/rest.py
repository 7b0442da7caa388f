"""Paginated REST incremental source (SURVEY §2.1 S7).

The reference pulls Shopify products/orders/customers with an ``updated_at``
cursor, ascending order, 250/page (shopify_dlt/__init__.py:67-165,
helpers.py:21-82). The Spark-shaped equivalent: a driver-side paginated
fetcher feeding ``spark.createDataFrame`` batches; the caller persists the
cursor with ``streaming.commit_cursor`` after a durable write. No live HTTP in
this environment — the transport is injected, and tests drive it with a fake.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Fetcher = Callable[[object, int], list[dict]]
"""(cursor, page_size) -> page of records, ascending by the cursor field;
empty list = done. The injected transport (real HTTP client in production).
The cursor keeps its NATIVE type end to end (int/str/timestamp) — a string
max would mis-order numeric cursors (max('999','1000') = '999')."""


class RestCursorSource:
    def __init__(
        self,
        spark: SparkSession,
        fetch_page: Fetcher,
        cursor_field: str = "updated_at",
        page_size: int = 250,
    ):
        self.spark = spark
        self.fetch_page = fetch_page
        self.cursor_field = cursor_field
        self.page_size = page_size

    def _pages(self, cursor) -> Iterator[list[dict]]:
        while True:
            page = self.fetch_page(cursor, self.page_size)
            if not page:
                return
            yield page
            new_cursor = max(r[self.cursor_field] for r in page)
            if new_cursor == cursor:
                # A full page of identical cursor values cannot advance —
                # stop instead of looping forever. Real APIs break such runs
                # with a secondary sort key (id); inject a fetcher that
                # paginates on (cursor, id) if your feed can produce >page_size
                # records sharing one timestamp.
                return
            cursor = new_cursor

    def load(self, cursor=None, empty_schema: str | None = None) -> DataFrame:
        """Fetch all pages strictly past ``cursor`` into one DataFrame (the
        fetcher's contract: records with cursor_field > cursor, ascending).
        Driver-side accumulation is bounded since the cursor advances every
        page; for truly unbounded feeds, write each page to the bronze path
        and let the file stream take over.

        ``empty_schema``: DDL schema to use when zero records arrive (the
        record shape can't be inferred from nothing); defaults to a bare
        cursor-only schema."""
        records: list[dict] = []
        for page in self._pages(cursor):
            records.extend(page)
        if not records:
            schema = empty_schema or f"{self.cursor_field} string, _cursor string"
            return self.spark.createDataFrame([], schema=schema)
        df = self.spark.createDataFrame(records)
        # New cursor = max(cursor_field); caller persists it (see
        # plans/pipeline.py::run_source_load for the state-table pattern).
        return df.withColumn("_cursor", F.col(self.cursor_field).cast("string"))
