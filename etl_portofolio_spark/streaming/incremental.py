"""Batch incremental runner — the reference's micro-batch loops, reusable.

The reference drives all three jobs with a driver ``while`` loop slicing
wall-clock time into fixed windows and using "max ``ds=`` partition of
the target table" as the watermark (`Ingestion Data (MySQL).py:23-31,
99-130`; `Processing Data.py:97-120`). This module packages that as:

- :func:`latest_partition` — S7/A2: watermark from the partition layout
  itself (no state store; the table IS the state).
- :func:`time_windows` — the ``[t, t+delta)`` window iterator.
- :class:`IncrementalRunner` — per-window batch: source(window) →
  transform → idempotent per-partition overwrite (K4 semantics), so any
  window can be re-run safely.

At scale each window's write touches only its own ``ds`` partitions
(dynamic overwrite), and re-running a failed window replaces rather
than duplicates — the reference's truncate+append, made atomic.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.sinks.writer import _hadoop_fs, observed, write_partitioned

DS_FORMAT = "%Y%m%d"  # the reference's yyyyMMdd string partition key


def latest_partition(
    spark: SparkSession, path: str, partition_col: str = "ds"
) -> str | None:
    """Max partition value from the directory layout (the watermark).

    The reference runs ``SHOW PARTITIONS`` + sort + collect
    (`Ingestion Data (MySQL).py:23-31`); for path tables the partition
    values are directory names — an O(#partitions) listing through the
    Hadoop FileSystem (so ``file:``/``hdfs:`` URIs work like plain
    paths), no Spark job at all.
    """
    jpath, fs = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    prefix = f"{partition_col}="
    values = []
    for entry in fs.listStatus(jpath):
        name = entry.getPath().getName()
        if entry.isDirectory() and name.startswith(prefix):
            values.append(name[len(prefix) :])
    return max(values) if values else None


def wall_clock_now(offset: timedelta) -> datetime:
    """Naive "now" on the clock ``offset`` ahead of UTC, whatever the
    host's zone: the coordinates of a runner's windows."""
    return datetime.now(timezone.utc).replace(tzinfo=None) + offset


def time_windows(
    start: datetime, end: datetime, delta: timedelta
) -> Iterator[tuple[datetime, datetime]]:
    """Tumbling ``[t, t+delta)`` windows covering [start, end)."""
    t = start
    while t < end:
        yield t, min(t + delta, end)
        t += delta


def window_days(start: datetime, end: datetime) -> set[str]:
    """``ds`` values of the days ``[start, end)`` overlaps — worked out on
    the driver, in the wall-clock coordinates described at
    :meth:`IncrementalRunner.run_from_watermark`."""
    days = set()
    day = datetime(start.year, start.month, start.day)
    while day < end:
        days.add(day.strftime(DS_FORMAT))
        day += timedelta(days=1)
    return days


@dataclass
class WindowResult:
    window_start: datetime
    window_end: datetime
    rows: int


class IncrementalRunner:
    """Window-at-a-time incremental pipeline with idempotent writes.

    ``source`` maps a (start, end) window to a DataFrame (a JDBC
    pushdown read, an HTTP fetch, or a filtered table scan);
    ``transform`` is the per-batch logic; the sink is a ``ds``-
    partitioned parquet path written with dynamic partition overwrite.

    Each window is one observed write pass: the row count and the
    partitions written come back from the write itself. An empty window
    writes nothing and reports ``rows == 0`` — the reference's
    empty-batch gate (`Ingestion Data (MySQL).py:175-178`) without a
    probe job of its own.
    """

    def __init__(
        self,
        spark: SparkSession,
        source: Callable[[datetime, datetime], DataFrame],
        target_path: str,
        transform: Callable[[DataFrame], DataFrame] | None = None,
    ) -> None:
        self.spark = spark
        self.source = source
        self.transform = transform or (lambda df: df)
        self.target_path = target_path
        #: partitions already (re)written by THIS run — first touch of a
        #: partition overwrites it (the reference's day-rollover
        #: truncate), later windows of the same partition append.
        self._seen: set = set()

    def watermark(self) -> str | None:
        return latest_partition(self.spark, self.target_path)

    def _write(self, batch: DataFrame, mode: str) -> dict:
        """Sink one partition-subset of a batch; overridden by the
        catalog-table runner."""
        return write_partitioned(batch, self.target_path, mode=mode)

    def run_window(self, start: datetime, end: datetime) -> WindowResult:
        """Run one window standalone: rewrites the partitions it touches."""
        self._seen = set()
        return self._window(start, end)

    def _window(self, start: datetime, end: datetime) -> WindowResult:
        """One window within the current run.

        Windows can be FINER than the partition key (hourly windows into
        daily ``ds``): a per-window blanket dynamic overwrite would then
        clobber the same day's earlier hours. The window's days D come
        from its bounds: days this run has not written yet are written
        with dynamic overwrite (truncating whatever an older run left
        there — K4 semantics), days it already wrote are appended to.
        Usually that is one write; a window straddling both kinds makes
        two filtered writes. Rows whose ``ds`` falls outside D are not
        written; the window raises ``ValueError`` after writing its own
        days.
        """
        days = window_days(start, end)
        if not days:
            return WindowResult(start, end, 0)
        batch_ds = Observation()
        batch = self.transform(self.source(start, end)).observe(
            batch_ds, F.collect_set("ds").alias("ds")
        )
        rows, written = 0, set()
        for mode, part in (
            ("overwrite", days - self._seen),
            ("append", days & self._seen),
        ):
            if part:
                got = self._write(batch.where(F.col("ds").isin(*part)), mode)
                rows += got["n_rows"]
                written |= got["partitions"]
        # the first write's pass fulfils the observation
        strays = set(observed(batch_ds).get("ds", ())) - days
        if strays:
            raise ValueError(
                f"window [{start}, {end}) produced ds {sorted(strays)} outside "
                f"its days {sorted(days)}; those rows were not written"
            )
        self._seen |= written
        return WindowResult(start, end, rows)

    def run(
        self, start: datetime, end: datetime, delta: timedelta
    ) -> list[WindowResult]:
        """Run all windows in [start, end); re-running the whole range is
        idempotent (each partition's first window truncates it)."""
        self._seen = set()
        return [self._window(s, e) for s, e in time_windows(start, end, delta)]

    def run_from_watermark(
        self, end: datetime, delta: timedelta, default_start: datetime
    ) -> list[WindowResult]:
        """Resume after the watermark partition (re-running its day is safe:
        dynamic overwrite replaces, never duplicates).

        Coordinate convention: window datetimes are wall-clock in the
        SAME timezone the ``ds`` key is derived in (UTC+7 for the
        reference jobs), so ``strptime(ds)`` IS the partition's exact
        start boundary. Sources that need absolute epochs must convert
        with their configured offset (``JdbcWindowSource._epoch``) —
        host-local ``datetime.timestamp()`` would silently shift the
        resume off the partition edge on non-UTC+7 hosts.
        """
        wm = self.watermark()
        start = (
            datetime.strptime(wm, DS_FORMAT) if wm is not None else default_start
        )
        return self.run(start, end, delta)


class TableIncrementalRunner(IncrementalRunner):
    """IncrementalRunner sinking into a NAMED catalog table.

    The reference's actual surface: `saveAsTable` + `SHOW PARTITIONS`
    watermark + per-partition truncate (`Ingestion Data
    (MySQL).py:23-31, 58-65, 142-149`). Same idempotent window
    semantics as the path runner — only the sink and watermark probe
    differ (metastore metadata instead of directory listing).
    """

    def __init__(
        self,
        spark: SparkSession,
        source: Callable[[datetime, datetime], DataFrame],
        target_table: str,
        transform: Callable[[DataFrame], DataFrame] | None = None,
    ) -> None:
        super().__init__(spark, source, target_path="", transform=transform)
        self.target_table = target_table

    def watermark(self) -> str | None:
        from etl_portofolio_spark.sinks.writer import latest_table_partition

        return latest_table_partition(self.spark, self.target_table)

    def _write(self, batch: DataFrame, mode: str) -> dict:
        from etl_portofolio_spark.sinks.writer import write_partitioned_table

        return write_partitioned_table(batch, self.target_table, mode=mode)
