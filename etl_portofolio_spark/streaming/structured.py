"""Structured Streaming mode — the reference's loops as a real stream.

Maps the hand-rolled concepts (SURVEY.md §2.8) onto Spark primitives:

- micro-batch trigger (driver `while` + 5-min cursor) → file/rate
  ``readStream`` with ``Trigger.AvailableNow`` (catch-up batch mode) or
  ``Trigger.ProcessingTime``.
- per-iteration ``[t, t+delta)`` bounds → tumbling ``F.window(ts, dur)``.
- "data outside the fetched window never arrives" → ``withWatermark``
  with an explicit lateness bound (the reference silently drops late
  data; here it is a declared, tunable contract).
- truncate-partition-then-append sink → ``foreachBatch`` + dynamic
  partition overwrite (idempotent per micro-batch replay, which is
  exactly the exactly-once-ish contract the reference hand-built).

State (offsets, window partials) lives in the checkpoint dir — replacing
the reference's "max ds= partition" watermark probe.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_portofolio_spark.sinks.writer import write_partitioned


def _as_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (LTZ) for watermarks.

    Parquet written with ``TIMESTAMP_NTZ`` reads back as NTZ, which
    ``withWatermark`` rejects (``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``).
    The session timezone is pinned UTC (session.py), so the cast is a
    pure retag — wall-clock values are unchanged — and a no-op when the
    column is already LTZ.
    """
    return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream (each dropped file becomes a micro-batch)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "5 minutes",
    lateness: str = "10 minutes",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling-window aggregation with a late-data watermark.

    The streaming twin of the reference's per-window batch aggregation;
    the same plan also runs in batch mode (tests compare the two).
    """
    return (
        _as_event_time(events, ts_col)
        .withWatermark(ts_col, lateness)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            *keys,
            "n_events",
            "value_cents",
        )
    )


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    lateness: str = "1 day",
    keys: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Gap-based session-window aggregation with a late-data watermark.

    The streaming twin of ``F.session_window`` batch sessionization:
    state holds one open session per key, merges events arriving
    within ``gap`` of the session end, and finalizes (emits, in append
    mode) once the watermark passes the session end.  Session end is
    last-event + gap, split on gap >= gapDuration — identical to the
    batch convention the oracles use.
    """
    return (
        _as_event_time(events, ts_col)
        .withWatermark(ts_col, lateness)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            *keys,
            "n_events",
            "value_cents",
        )
    )


def deduped_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    lateness: str = "10 minutes",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    EVICTS it once the watermark passes the key's event time + lateness
    — the state-TTL contract that makes streaming dedup viable at scale
    (a plain ``dropDuplicates`` on a stream grows state forever). A
    replayed/duplicated record arriving within the horizon is dropped;
    one arriving after the horizon is treated as new, which is the
    documented at-least-once → effectively-once tradeoff.
    """
    return (
        _as_event_time(events, ts_col)
        .withWatermark(ts_col, lateness)
        .dropDuplicatesWithinWatermark(list(key_cols))
    )


def make_batch_sink(
    target_path: str,
    partition_col: str = "ds",
    ds_from: str = "w_start",
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch closure behind :func:`start_dynamic_overwrite_sink`.

    Factored out so the (ds, batch_id) overwrite contract is directly
    unit-testable: replaying a batch_id replaces its own sub-partitions;
    sibling batches writing the same ds never touch each other.
    """

    def _sink(batch: DataFrame, batch_id: int) -> None:
        out = batch.withColumn(
            partition_col, F.date_format(F.col(ds_from), "yyyyMMdd")
        )
        if transform is not None:
            out = transform(out)
        out = out.withColumn("batch_id", F.lit(int(batch_id)))
        # an empty batch writes no partition
        write_partitioned(out, target_path, [partition_col, "batch_id"])

    return _sink


def start_dynamic_overwrite_sink(
    df: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    partition_col: str = "ds",
    ds_from: str = "w_start",
    available_now: bool = True,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """foreachBatch sink: ``(ds, batch_id)``-keyed dynamic overwrite.

    Exactly-once-ish K4 semantics that hold across BOTH hazards of a
    file sink fed by append-mode micro-batches:

    - **replay** (failure/restart re-runs the last batch): the batch
      dynamically overwrites only its own ``batch_id=N`` sub-partitions,
      so a half-written attempt is replaced, never duplicated;
    - **siblings** (several batches emit windows for the same day —
      live triggers, or availableNow split by ``maxFilesPerTrigger``):
      batch N+1 touches ``(ds, N+1)`` only and can never clobber batch
      N's rows for the same ``ds`` — a per-run seen-set would still
      lose them on restart replay, the composite key cannot.

    Readers of ``target_path`` see an extra ``batch_id`` partition
    column (drop it, or compact day partitions offline once the day is
    closed). Append-mode windowed aggregation emits each finalized
    window exactly once, so no cross-batch row duplication arises.
    """

    sink = make_batch_sink(target_path, partition_col, ds_from, transform)
    writer = df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def time_bounded_join(
    clicks: DataFrame,
    purchases: DataFrame,
    window_minutes: int = 10,
    lateness: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's clicks in the preceding ``window_minutes``.

    The same plan serves batch (the oracle-checked
    ``time_bounded_attribution`` query) and streaming inputs. In
    streaming mode BOTH sides get watermarks and the join condition
    carries the time-range bound — that bound is what lets Spark
    expire join state (clicks older than purchase-watermark -
    window are dropped from the state store), so state stays
    O(window), not O(stream). Without the range predicate a
    stream-stream join would buffer forever.

    Equi-join on user_id with a range residual: a hash join whose
    extra predicate filters post-probe — never a nested-loop plan.
    """
    is_streaming = clicks.isStreaming
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").cast("timestamp").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    if is_streaming:
        c = c.withWatermark("click_ts", lateness)
        p = p.withWatermark("purchase_ts", lateness)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES")
        )
    )
    return c.join(p, cond).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "click_id",
        "click_ts",
    )


def enrich_stream_static(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment: join a stream against a
    batch dimension frame.

    The streaming counterpart of the batch dim-chain joins: Spark
    re-plans the STATIC side per micro-batch and needs NO state store
    — unlike a stream-stream join there is nothing to watermark or
    expire, because the static side is always wholly available. The
    dimension is broadcast, so each micro-batch pays a map-side hash
    join, never a shuffle of the stream.

    Dimension freshness contract (test-pinned): a PLAIN-PARQUET static
    side is pinned at query start — the file listing behind the frame
    is captured when the frame is built, and ``refreshByPath`` does
    not reach a running stream's captured relation. Overwriting the
    dimension mid-query therefore FAILS the query loudly
    (FILE_NOT_EXIST) rather than ever serving stale or torn rows —
    the safe failure mode. To roll a dimension: restart the query
    against the new snapshot (cheap — this join keeps no state), or
    back the static side with a table format whose snapshots
    re-resolve per batch.

    Left join by default: an event with no dimension row must surface
    (with nulls) rather than vanish — dropping unmatched facts in an
    enrichment stage is a silent-data-loss bug.
    """
    return events.join(F.broadcast(dim), on, how)


def time_bounded_join_left(
    purchases: DataFrame,
    clicks: DataFrame,
    window_minutes: int = 10,
    lateness: str = "30 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase emits —
    matched to the same user's clicks in the preceding
    ``window_minutes``, or with NULL click columns once the watermark
    proves no match can arrive.

    The outer-ness is the hard part of streaming joins: an unmatched
    purchase cannot emit eagerly (its click may still be in flight),
    so Spark holds it in state until the click-side watermark passes
    ``purchase_ts`` (the top of its admissible click range) and only
    then emits the null row. That gives the outer join the same
    bounded-state guarantee as the inner form — state is O(window +
    lateness), and every purchase is emitted exactly once. The
    attribution consequence: conversion rows with no click surface as
    organic conversions instead of silently vanishing (the same
    no-silent-data-loss contract as ``enrich_stream_static``).

    In batch mode the identical plan is a plain left outer join —
    the test twin.
    """
    is_streaming = purchases.isStreaming
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").cast("timestamp").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    if is_streaming:
        p = p.withWatermark("purchase_ts", lateness)
        c = c.withWatermark("click_ts", lateness)
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES")
        )
    )
    return p.join(c, cond, "left_outer").select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "click_id",
        "click_ts",
    )
