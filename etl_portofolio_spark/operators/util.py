"""Physical-layout helpers shared by the operator library."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure per-row CPU-heavy work is spread across all cores.

    Small fixture tables arrive as a single parquet row-group (one input
    split), which would serialize expensive per-row expressions (shingle
    construction, 16-way minhash, per-token hashing) onto one core. At
    production scale a 100 TB scan already has thousands of splits, so
    this is a no-op there: we only repartition when the scan has fewer
    partitions than the session's parallelism.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def spread_by(df: DataFrame, *cols: str) -> DataFrame:
    """:func:`spread`, but hash-partitioned on the columns a following
    ``groupBy``/join uses — the exchange is then REUSED by that operator
    (same key, same partition count), so the whole aggregation runs
    key-partitioned at full parallelism for ONE exchange instead of the
    single-task partial aggregation a one-row-group scan forces.

    Prefer this over :func:`spread` when the very next operator keys on
    ``cols`` and the per-key reduction is expensive (``collect_set``,
    array building): round-robin spreading would keep the map-side
    partial aggregation, paying a second exchange for rows a keyed
    exchange ships once. Like :func:`spread`, a no-op at production
    scale where the scan already has enough splits.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        # explicit count: a bare repartition(*cols) is REPARTITION_BY_COL,
        # which AQE's coalescer may collapse back to ONE partition on
        # small inputs (observed at sf0.1) — re-serializing exactly the
        # work this helper exists to spread. The pinned count also keeps
        # the partitioning recognizable by downstream keyed operators.
        return df.repartition(target, *cols)
    return df


def approx_distinct_audit(
    df: "DataFrame", col: str, rsd: float = 0.05
) -> "DataFrame":
    """Exact vs HyperLogLog distinct count with an error-bound verdict
    — the harness that justifies swapping exact distincts for sketches
    at scale.

    At 100 TB an exact countDistinct shuffles every distinct value;
    ``approx_count_distinct`` keeps a fixed-size HLL register per
    partition and merges map-side — constant memory, one combinable
    pass.  The swap is only safe if the error behaves, and THIS audit
    is the proof artifact: run both on a sample (or a backfill window),
    record the relative error, gate on ~3x the configured rsd (HLL
    error is approximately Gaussian with sigma=rsd, so 3-sigma bounds
    hold with probability ~0.997).  The sketch is engine-specific by
    nature, so the audit is the verification story — there is no
    cross-engine oracle for register internals, and none is claimed.
    """
    from pyspark.sql import functions as F

    stats = df.agg(
        F.countDistinct(col).alias("exact"),
        F.approx_count_distinct(col, rsd=rsd).alias("approx"),
    )
    rel_err = (
        F.abs(F.col("approx") - F.col("exact")).cast("double")
        / F.col("exact").cast("double")
    )
    return stats.select(
        F.lit(col).alias("column_name"),
        "exact",
        "approx",
        F.round(rel_err, 6).alias("rel_err"),
        (rel_err <= 3 * rsd).alias("within_bound"),
    )
