"""One observed write per window: session hygiene, failure injection and
runner edge cases for the incremental jobs and their sinks."""

from __future__ import annotations

import calendar
import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from etl_portofolio_spark.jobs import ingest_jdbc, ingest_xml
from etl_portofolio_spark.sinks.writer import compact_partition, write_partitioned
from etl_portofolio_spark.streaming.incremental import (
    IncrementalRunner,
    TableIncrementalRunner,
)

_OVERWRITE = "spark.sql.sources.partitionOverwriteMode"
_PARSER = "spark.sql.legacy.timeParserPolicy"
_API_FMT = "%a %b %d %H:%M:%S UTC %Y"
_WINDOW_ID = "%Y-%m-%d %H:%M:%S"


@pytest.fixture()
def catalog_db(spark, tmp_path):
    name = f"wdb_{abs(hash(str(tmp_path))) % 10**8}"
    spark.sql(f"CREATE DATABASE {name} LOCATION '{tmp_path / 'db'}'")
    yield name
    spark.sql(f"DROP DATABASE {name} CASCADE")


def api_rows(url: str, xml_body: str, window_id: str) -> str:
    """Fake API: five one-minute rows per window, CSV as the API sends it."""
    start = datetime.strptime(window_id, _WINDOW_ID)
    header = "waktu,appId_String,clientAddr,serverAddr,transactions,delay,throughput"
    rows = [
        f"{(start + timedelta(minutes=i)).strftime(_API_FMT)},app{i},10.0.0.{i},10.1.0.{i},{i}.0,0.5,{i}.0"
        for i in range(5)
    ]
    return "\n".join([header] + rows)


def api_rows_failing_at_17(url: str, xml_body: str, window_id: str) -> str:
    """The fake API, except the 17:00 window's fetch raises."""
    if window_id.endswith("17:00:00"):
        raise ConnectionError("injected fetch failure")
    return api_rows(url, xml_body, window_id)


def _events(spark, start: datetime, hours: int, every_min: int = 30, skip_first_hour=False):
    """Timestamped rows every ``every_min`` minutes; ds is the ts's day."""
    ts = [
        start + timedelta(minutes=m)
        for m in range(0, hours * 60, every_min)
        if not (skip_first_hour and m < 60)
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(ts)], "k long, ts timestamp")
    return df.withColumn("ds", F.date_format("ts", "yyyyMMdd"))


def _window_source(df):
    return lambda s, e: df.where((F.col("ts") >= F.lit(s)) & (F.col("ts") < F.lit(e)))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _ds_counts(df) -> dict[str, int]:
    return {r["ds"]: r["count"] for r in df.groupBy("ds").count().collect()}


# --- session hygiene ----------------------------------------------------------


def test_jobs_leave_session_confs_unchanged(spark, tmp_path, catalog_db):
    """On a session set to static overwrite and the CORRECTED parser, the
    XML job, a path-runner window, a table-runner window and a compaction
    change neither conf, and each replaces only the ds it writes."""
    old = {k: spark.conf.get(k) for k in (_OVERWRITE, _PARSER)}
    spark.conf.set(_OVERWRITE, "static")
    spark.conf.set(_PARSER, "CORRECTED")
    try:
        xml = str(tmp_path / "xml")
        for start, minutes in ((datetime(2023, 12, 31, 16), 5), (datetime(2024, 1, 1), 10)):
            n = ingest_xml.run(
                spark, start, start + timedelta(minutes=minutes), xml,
                fetcher="tests.test_window_writes:api_rows",
            )
            assert n == minutes
        assert _ds_counts(spark.read.parquet(xml)) == {"20231231": 5, "20240101": 10}

        ev = _events(spark, datetime(2024, 1, 5), hours=48)
        path = str(tmp_path / "path")
        write_partitioned(ev, path)
        runner = IncrementalRunner(spark, _window_source(ev), path)
        assert runner.run_window(datetime(2024, 1, 6), datetime(2024, 1, 7)).rows == 48
        assert _ds_counts(spark.read.parquet(path)) == {"20240105": 48, "20240106": 48}

        tbl = f"{catalog_db}.hygiene"
        trunner = TableIncrementalRunner(spark, _window_source(ev), tbl)
        trunner.run_window(datetime(2024, 1, 5), datetime(2024, 1, 6))
        trunner.run_window(datetime(2024, 1, 6), datetime(2024, 1, 7))
        assert _ds_counts(spark.table(tbl)) == {"20240105": 48, "20240106": 48}

        assert compact_partition(spark, path, "ds", "20240105") == 1
        assert _ds_counts(spark.read.parquet(path)) == {"20240105": 48, "20240106": 48}

        assert spark.conf.get(_OVERWRITE) == "static"
        assert spark.conf.get(_PARSER) == "CORRECTED"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_xml_transform_parses_api_stamps_under_corrected_policy(spark):
    """Weekday stripped, the rest parsed under the default parser: the
    same instants the LEGACY "E MMM d HH:mm:ss z yyyy" parse gave, +7h."""
    stamps = [
        "Mon Jan 01 00:07:13 UTC 2024",
        "Wed Jan 3 17:59:59 UTC 2024",
        "Tue Jan 02 08:00:00 WIB 2024",  # WIB = UTC+7
    ]
    df = spark.createDataFrame(
        [(s, "a", "c", "s", 1.0, 1.0, 1.0) for s in stamps],
        "waktu string, appId_String string, clientAddr string, serverAddr string, "
        "transactions double, delay double, throughput double",
    )
    got = [r["waktu"] for r in ingest_xml.transform(df).collect()]
    assert got == [
        datetime(2024, 1, 1, 7, 7, 13),
        datetime(2024, 1, 4, 0, 59, 59),
        datetime(2024, 1, 2, 8, 0, 0),
    ]


# --- failure injection --------------------------------------------------------


def _epoch(dt: datetime) -> int:
    """ds-timezone (UTC+7) wall-clock → epoch seconds."""
    return calendar.timegm(dt.timetuple()) - 7 * 3600


def test_rerun_after_failed_hourly_window_equals_clean_run(spark, tmp_path):
    """A source that fails inside window k's write job leaves that day
    half-loaded; re-running the range gives exactly the clean run."""
    start, end = datetime(2024, 1, 5, 18), datetime(2024, 1, 6, 6)
    # JDBC-shaped history: a row every 10 minutes over the 12 hours
    hist = spark.createDataFrame(
        [(i % 3, _epoch(start) + i * 600, float(i)) for i in range(72)],
        "itemid long, clock long, value double",
    )

    def source(fail_at: datetime | None):
        def read(s: datetime, e: datetime):
            df = hist.where((F.col("clock") >= _epoch(s)) & (F.col("clock") < _epoch(e)))
            if s == fail_at:  # the failure surfaces mid-window, on executors
                cutoff = _epoch(s) + 1800
                df = df.withColumn(
                    "value",
                    F.when(F.col("clock") < cutoff, F.col("value")).otherwise(
                        F.raise_error(F.lit("injected source failure"))
                    ),
                )
            return df

        return read

    clean = str(tmp_path / "clean")
    IncrementalRunner(
        spark, source(None), clean, transform=ingest_jdbc.transform
    ).run(start, end, timedelta(hours=1))

    target = str(tmp_path / "target")
    failing = IncrementalRunner(
        spark, source(datetime(2024, 1, 6, 2)), target, transform=ingest_jdbc.transform
    )
    with pytest.raises(Exception, match="injected source failure"):
        failing.run(start, end, timedelta(hours=1))
    # day 2 holds only the hours before the failure
    assert _ds_counts(spark.read.parquet(target))["20240106"] == 12

    IncrementalRunner(
        spark, source(None), target, transform=ingest_jdbc.transform
    ).run(start, end, timedelta(hours=1))
    assert _rows(spark.read.parquet(target)) == _rows(spark.read.parquet(clean))
    assert _ds_counts(spark.read.parquet(target)) == {"20240105": 36, "20240106": 36}


def test_xml_fetch_failure_leaves_no_new_or_partial_ds(spark, tmp_path):
    """One 5-minute window's fetch raises: the batch fails inside its
    write job and the target keeps exactly what it held before."""
    target = str(tmp_path / "xml")
    ingest_xml.run(
        spark, datetime(2024, 1, 1, 16, 50), datetime(2024, 1, 1, 16, 55), target,
        fetcher="tests.test_window_writes:api_rows",
    )
    before = _rows(spark.read.parquet(target))
    assert _ds_counts(spark.read.parquet(target)) == {"20240101": 5}
    # 16:55 lands in ds=20240101 (+7h), 17:00 would open ds=20240102
    with pytest.raises(Exception, match="injected fetch failure"):
        ingest_xml.run(
            spark, datetime(2024, 1, 1, 16, 55), datetime(2024, 1, 1, 17, 5), target,
            fetcher="tests.test_window_writes:api_rows_failing_at_17",
        )
    assert sorted(d for d in os.listdir(target) if d.startswith("ds=")) == ["ds=20240101"]
    assert _rows(spark.read.parquet(target)) == before


def test_xml_hourly_schedule_keeps_every_hour(spark, tmp_path):
    """Two scheduled calls ending at 02:00 and 03:00 (ds clock): the
    second rewrites the day from its first hour, so the day equals a
    clean run of the three hours."""
    day = datetime(2024, 1, 5)
    sched = str(tmp_path / "sched")
    runner = ingest_xml.build_runner(
        spark, sched, fetcher="tests.test_window_writes:api_rows", window_minutes=30
    )
    for hour in (2, 3):
        runner.run_from_watermark(
            end=day + timedelta(hours=hour), delta=timedelta(hours=1), default_start=day
        )
    clean = str(tmp_path / "clean")
    api_day = day - ingest_xml.API_CLOCK_OFFSET
    ingest_xml.run(
        spark, api_day, api_day + timedelta(hours=3), clean,
        fetcher="tests.test_window_writes:api_rows", window_minutes=30,
    )
    assert _ds_counts(spark.read.parquet(sched)) == {"20240105": 3 * 2 * 5}
    assert _rows(spark.read.parquet(sched)) == _rows(spark.read.parquet(clean))


# --- runner edge cases --------------------------------------------------------


def test_empty_first_hour_over_older_run_equals_clean_run(spark, tmp_path):
    """The day's first hour is empty and the target holds that day from
    an older run: the first non-empty hour still truncates it."""
    ev = _events(spark, datetime(2024, 1, 5), hours=6, skip_first_hour=True)
    start, end = datetime(2024, 1, 5), datetime(2024, 1, 5, 6)

    clean = str(tmp_path / "clean")
    IncrementalRunner(spark, _window_source(ev), clean).run(start, end, timedelta(hours=1))

    target = str(tmp_path / "target")
    write_partitioned(_events(spark, datetime(2024, 1, 5), hours=24), target)
    results = IncrementalRunner(spark, _window_source(ev), target).run(
        start, end, timedelta(hours=1)
    )
    assert [r.rows for r in results] == [0, 2, 2, 2, 2, 2]
    assert _rows(spark.read.parquet(target)) == _rows(spark.read.parquet(clean))
    assert _ds_counts(spark.read.parquet(target)) == {"20240105": 10}


def test_window_rows_outside_its_days_raise(spark, tmp_path):
    """A source yielding a row whose ds lies outside the window's days
    raises ValueError naming the window, and that row is not written."""
    ev = _events(spark, datetime(2024, 1, 5), hours=2)
    stray = spark.createDataFrame(
        [(99, datetime(2024, 1, 5, 1), "20240301")], "k long, ts timestamp, ds string"
    )
    runner = IncrementalRunner(
        spark, _window_source(ev.unionByName(stray)), str(tmp_path / "t")
    )
    with pytest.raises(ValueError, match=r"2024-01-05 00:00:00.*20240301"):
        runner.run_window(datetime(2024, 1, 5), datetime(2024, 1, 6))
    assert _ds_counts(spark.read.parquet(str(tmp_path / "t"))) == {"20240105": 4}


@pytest.mark.parametrize("sink", ["path", "table"])
def test_window_straddling_seen_and_unseen_day_matches_one_shot(
    spark, tmp_path, catalog_db, sink
):
    """18-hour windows over daily ds: windows two and three each cover
    a day this run already wrote and one it has not (over an older run's
    rows). The result equals the one-shot load of the same rows."""
    ev = _events(spark, datetime(2024, 1, 5), hours=54)
    start, end = datetime(2024, 1, 5), datetime(2024, 1, 7, 6)
    older = _events(spark, datetime(2024, 1, 6), hours=24, every_min=20)
    if sink == "path":
        target = str(tmp_path / "t")
        write_partitioned(older, target)
        runner = IncrementalRunner(spark, _window_source(ev), target)
        read = lambda: spark.read.parquet(target)  # noqa: E731
    else:
        target = f"{catalog_db}.straddle"
        from etl_portofolio_spark.sinks.writer import write_partitioned_table

        write_partitioned_table(older, target)
        runner = TableIncrementalRunner(spark, _window_source(ev), target)
        read = lambda: spark.table(target)  # noqa: E731
    results = runner.run(start, end, timedelta(hours=18))
    assert [r.rows for r in results] == [36, 36, 36]
    assert _rows(read()) == _rows(ev)
    assert _ds_counts(read()) == {"20240105": 48, "20240106": 48, "20240107": 12}


@pytest.mark.parametrize("sink", ["path", "table"])
def test_rerun_after_straddling_window_fails_before_its_append_equals_clean_run(
    spark, tmp_path, catalog_db, sink
):
    """A window covering a day this run wrote and one it has not fails
    after its overwrite write and before its append: the unseen day is
    written, the seen day lacks the window's hours. Re-running the range
    gives exactly the clean run."""
    ev = _events(spark, datetime(2024, 1, 5), hours=54)
    start, end, delta = datetime(2024, 1, 5), datetime(2024, 1, 7, 6), timedelta(hours=18)
    base = IncrementalRunner if sink == "path" else TableIncrementalRunner

    class FailsOnFirstAppend(base):
        failed = False

        def _write(self, batch, mode):
            if mode == "append" and not FailsOnFirstAppend.failed:
                FailsOnFirstAppend.failed = True
                raise RuntimeError("injected failure before the append")
            return super()._write(batch, mode)

    if sink == "path":
        clean, target = str(tmp_path / "clean"), str(tmp_path / "t")
        read = spark.read.parquet
    else:
        clean, target = f"{catalog_db}.clean", f"{catalog_db}.crash"
        read = spark.table
    base(spark, _window_source(ev), clean).run(start, end, delta)

    with pytest.raises(RuntimeError, match="injected failure before the append"):
        FailsOnFirstAppend(spark, _window_source(ev), target).run(start, end, delta)
    # window two overwrote 01-06 with its 12 hours, then failed before
    # appending its 6 hours of 01-05
    assert _ds_counts(read(target)) == {"20240105": 36, "20240106": 24}

    base(spark, _window_source(ev), target).run(start, end, delta)
    assert _rows(read(target)) == _rows(read(clean))


# --- write policy -------------------------------------------------------------


def test_window_jobs_write_only_through_the_runner():
    """The three windowed jobs hand their frames to the runner; none
    writes itself, so the window write policy lives in
    ``streaming/incremental.py`` only."""
    jobs = os.path.join(os.path.dirname(os.path.dirname(__file__)), "etl_portofolio_spark", "jobs")
    bad = []
    for name in ("ingest_xml.py", "ingest_jdbc.py", "process_daily.py"):
        src = open(os.path.join(jobs, name), encoding="utf-8").read()
        bad += [
            f"{name}: {w}"
            for w in ("write_partitioned(", ".write.", "saveAsTable", "insertInto")
            if w in src
        ]
    assert not bad, bad
