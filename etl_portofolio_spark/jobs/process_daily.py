"""Daily join/pivot processing job — the reference's `Processing Data.py`.

Day-windowed incremental transform: join the fact to the dim chain,
minute-bucket, pivot the direction column, derive totals/date parts, and
write the day's partition idempotently. The per-day loop, source/target
watermark logic (`Processing Data.py:97-120`) and TRUNCATE-on-rollover
(`:140-149`) collapse into IncrementalRunner + dynamic overwrite.

The transform itself is the engine's flagship statement
(`plans/reference_queries.q_flagship_throughput_pivot`), one batch per
day, reading the fact once. The day's bounds filter `events.ts` before
the dim join, the reference's `d.ds='...'` (`Processing Data.py:181-182`).
The dim chain does not change between days, so the runner builds it once
and binds it as a local relation; it is built again only when the dim
tables' files change.
"""

from __future__ import annotations

import argparse
import os
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

from etl_portofolio_spark.catalog import listing_signature
from etl_portofolio_spark.session import build_session
from etl_portofolio_spark.streaming.incremental import (
    DS_FORMAT,
    IncrementalRunner,
    wall_clock_now,
)


def build_runner(
    spark: SparkSession, source_sf_dir: str, target_path: str
) -> IncrementalRunner:
    """Runner producing one flagship-transform batch per day window.

    The dim chain is collected once and bound as a ``LocalRelation`` that
    every window's flagship joins. The flagship broadcasts it
    (``BROADCAST(d)``), which goes through the driver at any size; bound,
    that costs no scan and no broadcast job per window. Each window
    compares the dim tables' listing signature (names, sizes, mtimes; no
    Spark job) with the bound one and rebinds when it differs, or when it
    cannot be read.
    """
    from etl_portofolio_spark.plans.reference_queries import (
        DIM_TABLES,
        _dim_chain,
        q_flagship_throughput_pivot,
    )

    dim_paths = [os.path.join(source_sf_dir, f"{t}.parquet") for t in DIM_TABLES]
    bound: dict[str, object] = {}

    def dim() -> DataFrame:
        sig = [listing_signature(p) for p in dim_paths]
        if None in sig or sig != bound.get("sig"):
            chain = _dim_chain(spark, source_sf_dir)._jdf
            local = spark._jsparkSession.createDataFrame(
                chain.collectAsList(), chain.schema()
            )
            bound.update(sig=sig, dim=DataFrame(local, spark))
        return bound["dim"]

    dim()

    def source(s: datetime, e: datetime) -> DataFrame:
        # The bounds reach the events scan: pushed parquet filters on a
        # micros `ts` column, a scan-stage Filter on the nanos fixtures.
        return q_flagship_throughput_pivot(spark, source_sf_dir, s, e, dim=dim())

    return IncrementalRunner(spark, source, target_path)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source-dir", required=True)
    p.add_argument("--target", required=True)
    p.add_argument("--default-start", required=True, help="YYYYmmdd")
    p.add_argument("--end", default=None, help="YYYYmmdd (default: now)")
    args = p.parse_args()
    spark = build_session("process-daily")
    runner = build_runner(spark, args.source_dir, args.target)
    # `ds` is derived in the session zone, UTC: "now" is read there too
    end = (
        datetime.strptime(args.end, DS_FORMAT)
        if args.end
        else wall_clock_now(timedelta(0))
    )
    results = runner.run_from_watermark(
        end=end,
        delta=timedelta(days=1),
        default_start=datetime.strptime(args.default_start, DS_FORMAT),
    )
    print(f"windows: {len(results)}, rows: {sum(r.rows for r in results)}")


if __name__ == "__main__":
    main()
