"""Custom Python DataSource (Spark 4 extension point): a paginated-API
source where EACH PAGE IS AN INPUT PARTITION.

The reference's extract loops pages on the Airflow worker and ships the
accumulated list through XCom (`plugins/brewery_operators.py:25-58`) — a
driver-side bottleneck at any real volume. This source moves pagination
INTO the scan: `spark.read.format("paged_api")` plans one input partition
per page, executors fetch pages concurrently, and the rows enter Spark as
a normal scan — no driver accumulation, no createDataFrame of a giant
list. At 100 TB-scale ingest the page count scales the parallelism.

The fetch itself is DETERMINISTIC AND OFFLINE here (this container has no
network): `_fetch_page` synthesizes the page payload as a pure function
of (page, per_page), exactly the shape a `requests.get(url,
params={page, per_page}).json()` would return — swap `_fetch_page` for a
real HTTP call in production; partition planning, schema declaration, and
the executor-side iterator protocol are the real thing.
"""

from __future__ import annotations

from collections.abc import Iterator

try:  # the Python DataSource API needs pyspark >= 4.0
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    HAVE_PYTHON_DATASOURCE = True
except ImportError:  # pragma: no cover - older pyspark
    HAVE_PYTHON_DATASOURCE = False

    class DataSource:  # type: ignore[no-redef]
        pass

    class DataSourceReader:  # type: ignore[no-redef]
        pass

    class InputPartition:  # type: ignore[no-redef]
        def __init__(self, value):
            self.value = value


def _fetch_page(page: int, per_page: int) -> list[dict]:
    """Offline deterministic stand-in for the paginated HTTP GET: row ids
    are globally sequential, names/values pure functions of the id."""
    start = page * per_page
    return [
        {
            "item_id": start + i,
            "page": page,
            "name": f"item-{start + i:06d}",
            "score": round(((start + i) % 97) / 97.0, 6),
        }
        for i in range(per_page)
    ]


class PagedApiReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n_pages = int(options.get("n_pages", 8))
        self.per_page = int(options.get("per_page", 25))

    def partitions(self) -> list[InputPartition]:
        # one planned partition PER PAGE — the executor-side fetches run
        # n_pages-wide in parallel, the property the reference's
        # driver-side loop cannot have
        return [InputPartition(p) for p in range(self.n_pages)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        page = partition.value
        for row in _fetch_page(page, self.per_page):
            yield (row["item_id"], row["page"], row["name"], row["score"])


class PagedApiDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "paged_api"

    def schema(self) -> str:
        return "item_id bigint, page int, name string, score double"

    def reader(self, schema) -> PagedApiReader:
        return PagedApiReader(self.options)


if HAVE_PYTHON_DATASOURCE:
    from pyspark.sql.datasource import SimpleDataSourceStreamReader

    class PagedApiStreamReader(SimpleDataSourceStreamReader):
        """Streaming flavor of the paged source: each micro-batch ingests
        ``pages_per_trigger`` pages (default 1); the stream offset IS the
        page number, checkpointable like any other source offset (a
        crashed query resumes at the recorded page — the at-least-once
        API-ingest pattern). ``pages_per_trigger`` sizes the micro-batch,
        the standard ingest-throughput lever (kafka's maxOffsetsPerTrigger
        analog): every trigger pays a fixed WAL/offset-commit + planning
        cycle regardless of row count, so a backfill over a deep page
        history batches several pages per trigger while resume stays
        page-aligned (``readBetweenOffsets`` replays any offset range).
        When all ``n_pages`` are consumed, read() reports no progress and
        the drained stream equals the batch scan — which is what the
        oracle checks, for any ``pages_per_trigger``."""

        def __init__(self, options: dict) -> None:
            self.n_pages = int(options.get("n_pages", 8))
            self.per_page = int(options.get("per_page", 25))
            self.pages_per_trigger = int(options.get("pages_per_trigger", 1))
            if self.pages_per_trigger < 1:
                raise ValueError(
                    f"pages_per_trigger must be >= 1, got {self.pages_per_trigger}"
                )

        def initialOffset(self) -> dict:
            return {"page": 0}

        def read(self, start: dict):
            page = int(start["page"])
            if page >= self.n_pages:
                # exhausted: same offset + an ITERATOR (the runner probes
                # it with next() to validate no-progress batches are empty)
                return iter([]), start
            until = min(page + self.pages_per_trigger, self.n_pages)
            # a LIST, not a generator: the simple-reader protocol pickles
            # the batch into its prefetch cache before serving it
            rows = [
                (r["item_id"], r["page"], r["name"], r["score"])
                for p in range(page, until)
                for r in _fetch_page(p, self.per_page)
            ]
            return rows, {"page": until}

        def readBetweenOffsets(self, start: dict, end: dict):
            for page in range(int(start["page"]), int(end["page"])):
                for r in _fetch_page(page, self.per_page):
                    yield (r["item_id"], r["page"], r["name"], r["score"])

    class PagedApiStreamDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "paged_api_stream"

        def schema(self) -> str:
            return "item_id bigint, page int, name string, score double"

        def simpleStreamReader(self, schema) -> "PagedApiStreamReader":
            return PagedApiStreamReader(self.options)
