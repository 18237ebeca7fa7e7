"""XML-API ingestion job — the reference's `Ingestion Data (XML).py`.

Differences by design (SURVEY.md §3.2): the fetch+parse runs on
EXECUTORS (one task per 5-minute window, read by
``http_xml.read_windows`` straight into Arrow batches) instead of driver
pandas, with the response schema declared; the allowlist is an ``isin``
predicate or a broadcast left-semi join. The job is an
:class:`IncrementalRunner` source, like ``ingest_jdbc``: the first window
of a ``ds`` day overwrites it, later windows of the run append (the
reference's ``is_truncate`` was computed but never used — §2.11.7).
API times are UTC; ``ds`` and the runner's windows are UTC+7 wall time.

Intended column set per §2.11.1: transactions/delay/throughput (the
reference selected misspelled names the API was never asked for).
"""

from __future__ import annotations

import argparse
import os
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.functions import date_parts, ds_from_ts, shift_hours
from etl_portofolio_spark.functions.timeparts import DEFAULT_TZ_OFFSET_HOURS
from etl_portofolio_spark.session import build_session
from etl_portofolio_spark.sources import http_xml
from etl_portofolio_spark.streaming.incremental import (
    DS_FORMAT,
    IncrementalRunner,
    wall_clock_now,
)

#: ds clock (UTC+7, the runner's windows) minus API clock (UTC)
API_CLOCK_OFFSET = timedelta(hours=DEFAULT_TZ_OFFSET_HOURS)


def transform(df: DataFrame) -> DataFrame:
    """ts parse → +7h shift → string date parts → ds (F4–F12 chain)."""
    # API emits "E MMM d HH:mm:ss z yyyy" (Ingestion Data (XML).py:141).
    # The default (CORRECTED) parser rejects the E field in parse
    # patterns, so the weekday is stripped first; the rest parses as is.
    stamp = F.regexp_replace(F.col("waktu"), r"^\S+\s+", "")
    waktu = shift_hours(F.to_timestamp(stamp, "MMM d HH:mm:ss z yyyy"))
    parts = date_parts(waktu)
    return df.select(
        F.col("appId_String").alias("aplikasi"),
        F.col("clientAddr"),
        F.col("serverAddr"),
        F.col("transactions"),
        F.col("delay"),
        F.col("throughput"),
        waktu.alias("waktu"),
        *[
            parts[k].alias(k)
            for k in ("waktu_string", "tahun", "bulan", "tanggal", "jam", "menit")
        ],
        ds_from_ts(waktu).alias("ds"),
    )


def build_runner(
    spark: SparkSession,
    target_path: str,
    allowlist: list[str] | None = None,
    url: str = "",
    fetcher: str = "etl_portofolio_spark.jobs.ingest_xml:http_fetch",
    window_minutes: int = 5,
    allowlist_csv: str | None = None,
) -> IncrementalRunner:
    """The XML job as an :class:`IncrementalRunner` source: runner window
    ``[s, e)`` (ds clock) fetches the API span ``[s, e) - API_CLOCK_OFFSET``
    in ``window_minutes`` windows, one task each.

    A list allowlist is an ``isin`` predicate (no job); ``allowlist_csv``
    (first column = app id) a broadcast left-semi join, since its size is
    unbounded (the reference collected it to the driver). An EMPTY
    allowlist (header-only CSV, empty list) filters nothing: the
    reference's falsy list means "not configured", not "deny all". The
    CSV's emptiness probe runs once per runner, not once per window.

    API rows outside the window's days raise ``ValueError`` once its own
    days are written; a window straddling a day this run wrote and one
    it did not writes twice, fetching each time.
    """
    allow = None
    if allowlist_csv:
        allow = spark.read.option("header", "true").csv(allowlist_csv)
        allow = allow.select(F.col(allow.columns[0]).alias("appId_allow")).distinct()
        allow = None if allow.isEmpty() else allow

    def source(start: datetime, end: datetime) -> DataFrame:
        raw = http_xml.read_windows(
            spark,
            url=url,
            fetcher=fetcher,
            starttime=(start - API_CLOCK_OFFSET).strftime(http_xml.TIME_FMT),
            endtime=(end - API_CLOCK_OFFSET).strftime(http_xml.TIME_FMT),
            windowminutes=str(window_minutes),
        )
        if allow is not None:
            return raw.join(
                F.broadcast(allow),
                raw["appId_String"] == allow["appId_allow"],
                "left_semi",
            )
        if allowlist:
            return raw.where(F.col("appId_String").isin(*allowlist))
        return raw

    return IncrementalRunner(spark, source, target_path, transform=transform)


def run(
    spark: SparkSession, start: datetime, end: datetime, target_path: str, **options
) -> int:
    """Fetch the API-clock span [start, end) as one runner window
    (``options``: :func:`build_runner`'s) that rewrites the ``ds`` days it
    touches; returns rows written. Hour by hour it keeps each day's last
    hour only; a schedule resumes from the watermark, as :func:`main` does."""
    runner = build_runner(spark, target_path, **options)
    return runner.run_window(start + API_CLOCK_OFFSET, end + API_CLOCK_OFFSET).rows


def http_fetch(url: str, xml_body: str, window_id: str) -> str:
    """Default production fetcher (basic-auth HTTP POST), import-gated:
    the test container has no network; tests inject a fake fetcher.

    TLS verification is ON unless ``api_verify_tls=false`` is set —
    basic-auth credentials over an unverified channel would otherwise be
    interceptable by design.
    """
    import requests  # noqa: F401  (available in most deployments)

    verify = os.getenv("api_verify_tls", "true").strip().lower() not in (
        "0",
        "false",
        "no",
    )
    resp = requests.post(
        url,
        data=xml_body,
        headers={"Content-Type": "application/xml"},
        auth=(os.getenv("api_user", ""), os.getenv("api_password", "")),
        verify=verify,
        timeout=120,
    )
    resp.raise_for_status()
    return resp.text


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--default-start", required=True, help="YYYYmmdd")
    p.add_argument("--target", required=True)
    p.add_argument("--url", default=os.getenv("api_url", ""))
    p.add_argument("--allowlist-csv", default=None)
    args = p.parse_args()
    spark = build_session("ingest-xml")
    runner = build_runner(
        spark, args.target, url=args.url, allowlist_csv=args.allowlist_csv
    )
    # runner windows are ds-clock wall time
    results = runner.run_from_watermark(
        end=wall_clock_now(API_CLOCK_OFFSET),
        delta=timedelta(hours=1),
        default_start=datetime.strptime(args.default_start, DS_FORMAT),
    )
    print(f"windows: {len(results)}, rows: {sum(r.rows for r in results)}")


if __name__ == "__main__":
    main()
