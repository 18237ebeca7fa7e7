"""HTTP XML-query API source — distributed, schema-declared (S2/S3/S6).

The reference POSTs a ``GenericClientQuery`` XML body (column list, flow
filter, [start, end) time range, resolution) with basic auth and parses
the CSV response in driver pandas (`Ingestion Data (XML).py:91-132`) —
the whole payload transits driver RAM, its key scalability defect
(SURVEY.md §3.2).

Here one Spark partition is one time window and each EXECUTOR fetches
its own window and parses it straight into typed Arrow record batches.
Two surfaces share the window slicer (``_window_partitions``) and the
per-window fetch and parse (``XmlApiReader.read``):

- ``read_windows(spark, **options)``, the batch read the XML job uses: a
  ``spark.range`` of one row per window, fetched by ``mapInArrow``. It
  needs no Python planner call on the driver.
- the Spark 4 Python ``DataSource`` ``xmlapi`` for
  ``spark.read.format("xmlapi")`` and ``readStream`` callers, after
  ``register_xml_api(spark)``. Each of its batch reads makes two
  driver-side Python planner calls before a job is submitted.

The fetch function is pluggable via a ``fetcher`` option naming a
``module:function`` importable on executors — tests inject a
deterministic fake; production points it at an HTTP client. The response
schema is declared explicitly (the reference's pandas dtype inference
flips types on empty responses — SURVEY.md §1.3). Window bounds here
are API-clock (UTC); ``jobs.ingest_xml`` maps its ds-clock (UTC+7)
windows onto them.
"""

from __future__ import annotations

import importlib
import io
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Callable, Iterator

import pyarrow as pa
from pyarrow import csv

from pyspark.sql import DataFrame
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

#: The reference's request/response columns (`Ingestion Data (XML).py:95-102`,
#: corrected per SURVEY.md §2.11.1: transactions/throughput, not
#: transaksi/trhoughput).
RESPONSE_SCHEMA = (
    "waktu string, appId_String string, clientAddr string, serverAddr string, "
    "transactions double, delay double, throughput double"
)

TIME_FMT = "%Y-%m-%d %H:%M:%S"


def build_query_xml(
    columns: tuple[str, ...],
    flow_filter: str,
    start: datetime,
    end: datetime,
    resolution: str = "FIVE_MINUTE",
) -> str:
    """The ``GenericClientQuery`` request body (shape of
    `Ingestion Data (XML).py:91-120`): column select list, flow filter,
    half-open time range, resolution."""
    cols = "\n".join(f"      <column>{c}</column>" for c in columns)
    return (
        "<GenericClientQuery>\n"
        "  <select>\n"
        f"{cols}\n"
        "  </select>\n"
        f"  <filter>{flow_filter}</filter>\n"
        f"  <startTime>{start.strftime(TIME_FMT)}</startTime>\n"
        f"  <endTime>{end.strftime(TIME_FMT)}</endTime>\n"
        f"  <resolution>{resolution}</resolution>\n"
        "</GenericClientQuery>"
    )


@dataclass
class WindowPartition(InputPartition):
    """One fetch window = one Spark input partition."""

    start: str  # TIME_FMT strings — must be picklable
    end: str


def _window_partitions(start: str, end: str, minutes: int) -> list[WindowPartition]:
    """Tumbling ``minutes``-long windows over [start, end) (``TIME_FMT``
    strings), the last one cut at ``end`` — one input partition each."""
    t0 = datetime.strptime(start, TIME_FMT)
    t1 = datetime.strptime(end, TIME_FMT)
    delta = timedelta(minutes=minutes)
    out = []
    while t0 < t1:
        w_end = min(t0 + delta, t1)
        out.append(WindowPartition(t0.strftime(TIME_FMT), w_end.strftime(TIME_FMT)))
        t0 = w_end
    return out


def resolve_fetcher(spec: str) -> Callable[[str, str, str], str]:
    """Import ``module:function`` → callable(url, xml_body, window_id) -> CSV text."""
    mod, _, fn = spec.partition(":")
    return getattr(importlib.import_module(mod), fn)


class XmlApiReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.schema_ = schema
        self.url = options.get("url", "")
        self.fetcher_spec = options["fetcher"]
        # the request asks for the declared columns unless told otherwise
        self.columns = tuple(options.get("columns", ",".join(schema.names)).split(","))
        self.flow_filter = options.get("flowfilter", "")
        self.resolution = options.get("resolution", "FIVE_MINUTE")
        self.start = options["starttime"]
        self.end = options["endtime"]
        self.window_minutes = int(options.get("windowminutes", "5"))

    def partitions(self) -> list[WindowPartition]:
        """Tumbling windows over [start, end) — the reference's 5-minute
        driver loop (`Ingestion Data (XML).py:70-75`) became the
        partition plan, so windows fetch in parallel."""
        return _window_partitions(self.start, self.end, self.window_minutes)

    def read(self, partition: WindowPartition) -> Iterator[pa.RecordBatch]:
        """Executor-side: fetch one window's CSV and parse it into Arrow
        ``RecordBatch``es of the declared schema (S3's `pd.read_csv`
        without dtype inference), which Spark's data-source worker and
        ``read_windows``'s ``mapInArrow`` take as they are.

        Columns match by name: a missing one reads as null, an
        undeclared one is dropped, an empty cell of a double is null.
        An empty or header-only answer yields no batch."""
        fetch = resolve_fetcher(self.fetcher_spec)
        body = build_query_xml(
            self.columns,
            self.flow_filter,
            datetime.strptime(partition.start, TIME_FMT),
            datetime.strptime(partition.end, TIME_FMT),
            self.resolution,
        )
        text = fetch(self.url, body, partition.start)
        if not text.strip():
            return
        schema = to_arrow_schema(self.schema_)
        table = csv.read_csv(
            io.BytesIO(text.encode()),
            convert_options=csv.ConvertOptions(
                column_types=schema,
                include_columns=schema.names,
                include_missing_columns=True,
                null_values=[""],
            ),
        )
        yield from table.to_batches()


class XmlApiDataSource(DataSource):
    """``spark.read.format("xmlapi")`` after ``register_xml_api(spark)``."""

    @classmethod
    def name(cls) -> str:
        return "xmlapi"

    def schema(self) -> str:
        return self.options.get("schema", RESPONSE_SCHEMA)

    def reader(self, schema: StructType) -> XmlApiReader:
        return XmlApiReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> "XmlApiStreamReader":
        return XmlApiStreamReader(schema, dict(self.options))


def register_xml_api(spark) -> None:
    spark.dataSource.register(XmlApiDataSource)


def read_windows(spark, **options: str) -> DataFrame:
    """The batch read of ``spark.read.format("xmlapi").options(**options)
    .load()`` — same option map, same rows — with no Python data-source
    planning on the driver.

    ``spark.range(0, n, 1, n)`` carries window *i* of
    ``_window_partitions`` to task *i*, whose ``mapInArrow`` runs
    ``XmlApiReader.read`` and yields its Arrow batches unchanged. A fetch
    that raises fails the job that consumes the frame.
    """
    schema = StructType.fromDDL(options.get("schema", RESPONSE_SCHEMA))
    reader = XmlApiReader(schema, options)
    windows = reader.partitions()

    def fetch(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from reader.read(windows[i])

    n = len(windows)
    return spark.range(0, n, 1, n).mapInArrow(fetch, schema)


class XmlApiStreamReader(DataSourceStreamReader):
    """Structured-Streaming reader for the same API: the reference's
    hand-rolled 5-minute ``while`` loop (`Ingestion Data (XML).py:70-162`)
    as a REAL micro-batch source with checkpointable offsets.

    Offsets are window starts ({"t": "<ts>"}). ``latestOffset``
    reports what the SOURCE has available — ``endtime``, standing in
    for "the last complete window before now" in a live deployment —
    never a function of the committed position (the engine owns that;
    a reader that advances "committed+1" breaks checkpoint recovery,
    where a fresh reader instance must still see all available data).
    Window fetches stay EXECUTOR-side: ``partitions(start, end)``
    plans one InputPartition per window between the offsets and
    ``read`` reuses the batch reader's fetch+parse, so the streaming
    path inherits the distributed-fetch fix over the reference's
    driver-RAM pandas path. Restart semantics (test-pinned): resuming
    the checkpoint with no new data is a no-op; extending ``endtime``
    (new windows became available) reads ONLY the delta windows.
    """

    def __init__(self, schema: StructType, options: dict) -> None:
        self._batch = XmlApiReader(schema, options)

    def initialOffset(self) -> dict:
        return {"t": self._batch.start}

    def latestOffset(self) -> dict:
        return {"t": self._batch.end}

    def partitions(self, start: dict, end: dict) -> list[WindowPartition]:
        return _window_partitions(start["t"], end["t"], self._batch.window_minutes)

    def read(self, partition: WindowPartition) -> Iterator[pa.RecordBatch]:
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass
