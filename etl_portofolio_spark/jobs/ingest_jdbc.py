"""JDBC incremental ingestion job — the reference's `Ingestion Data (MySQL).py`.

Hour-windowed incremental loading of an epoch-clock history table into a
``ds``-partitioned parquet target. Differences by design: parallel
partitioned JDBC reads (the reference used one connection), one observed
write pass per batch that also yields its row count (the reference
re-read the source for every count — SURVEY.md §3.1), and dynamic
partition overwrite instead of the day-rollover TRUNCATE dance (§2.2 K4).

Env config mirrors the reference (`Ingestion Data (MySQL).py:89-93`):
``ip`` ``port`` ``user`` ``password`` ``database``.
"""

from __future__ import annotations

import argparse
import os
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_portofolio_spark.functions import ds_from_ts, epoch_to_ts_utc7
from etl_portofolio_spark.session import build_session
from etl_portofolio_spark.sources.jdbc import JdbcWindowSource
from etl_portofolio_spark.streaming.incremental import (
    DS_FORMAT,
    IncrementalRunner,
    wall_clock_now,
)


def transform(df: DataFrame) -> DataFrame:
    """decimal(20,0) counter cast + clock→local ts→ds derivation
    (`Ingestion Data (MySQL).py:171-173`)."""
    local_ts = epoch_to_ts_utc7(F.col("clock"))
    return df.withColumn(
        "value", F.col("value").cast(T.DecimalType(20, 0))
    ).withColumn("ds", ds_from_ts(local_ts))


def build_runner(
    spark: SparkSession, source: JdbcWindowSource, target_path: str
) -> IncrementalRunner:
    return IncrementalRunner(
        spark,
        source=lambda s, e: source.read_window(spark, s, e),
        target_path=target_path,
        transform=transform,
    )


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--table", default="history")
    p.add_argument("--target", required=True)
    p.add_argument("--default-start", required=True, help="YYYYmmdd")
    p.add_argument("--num-partitions", type=int, default=8)
    args = p.parse_args()

    url = (
        f"jdbc:mysql://{os.getenv('ip')}:{os.getenv('port')}/"
        f"{os.getenv('database')}?useSSL=false"
    )
    source = JdbcWindowSource(
        url=url,
        table=args.table,
        user=os.getenv("user", ""),
        password=os.getenv("password", ""),
        num_partitions=args.num_partitions,
    )
    spark = build_session("ingest-jdbc")
    runner = build_runner(spark, source, args.target)
    # runner windows are ds-timezone wall-clock (see JdbcWindowSource._epoch)
    # — "now" must be in the same coordinates, not host-local.
    results = runner.run_from_watermark(
        end=wall_clock_now(timedelta(hours=source.tz_offset_hours)),
        delta=timedelta(hours=1),
        default_start=datetime.strptime(args.default_start, DS_FORMAT),
    )
    print(f"windows: {len(results)}, rows: {sum(r.rows for r in results)}")


if __name__ == "__main__":
    main()
