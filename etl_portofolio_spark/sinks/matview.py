"""Aggregate materialized views with containment-checked rewrite.

The warehouse pattern Spark lacks natively: materialize a fine-grained
rollup ONCE, then answer every coarser aggregate from it — sum of sums,
sum of counts, min of mins, max of maxes — without touching the fact
table again.  A 100 TB fact scanned daily for a handful of dashboard
rollups is the textbook motivation: the MV is a few thousand rows, and
every rewrite is a broadcast-size re-aggregation.

Pieces:
- :func:`create_rollup_mv` materializes ``groupBy(dims).agg(measures)``
  to parquet and writes a JSON sidecar recording the dimensions and
  measure kinds — the metadata the rewriter checks against.
- :func:`answer_from_mv` takes a REQUESTED rollup (dim subset + measure
  subset) and either returns the MV-backed re-aggregation (containment
  holds) or raises :class:`RewriteError` (caller falls back to the
  fact table).  Containment rules are the classical ones: requested
  dims ⊆ MV dims, every requested measure re-aggregable from a stored
  one (sum/count re-sum, min/ max re-min/max; avg must be requested as
  sum+count — a stored avg is NOT re-aggregable and is rejected at
  CREATE time).
- Only additive/order-insensitive measures are accepted, so MV answers
  are bit-identical to fact-table answers for integer/decimal measures
  — the property the oracle gate checks.

Staleness is the caller's contract (rebuild on publish, same as any
warehouse MV); `wap_time_travel_delta` shows the snapshot side of that
story.
"""

from __future__ import annotations

import json
import os
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.sinks.writer import write_partitioned

_META_FILE = "_mv_meta.json"
#: measure kinds the rewriter can re-aggregate losslessly
_REAGG = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


class RewriteError(ValueError):
    """The requested rollup is not answerable from this MV."""


def create_rollup_mv(
    spark: SparkSession,
    fact: DataFrame,
    path: str,
    dims: tuple[str, ...],
    measures: Mapping[str, tuple[str, str]],
) -> int:
    """Materialize ``fact.groupBy(dims)`` with ``measures`` to ``path``.

    ``measures`` maps output name -> (kind, input expression), kind in
    {sum, count, min, max}.  ``count`` counts rows (the input expr is
    ignored) so it re-aggregates as a sum.  Returns the MV row count.
    """
    aggs = []
    for name, (kind, expr) in measures.items():
        if kind not in _REAGG:
            raise RewriteError(
                f"measure {name}: kind '{kind}' is not re-aggregable — "
                "store sum+count instead of avg, sketches instead of distinct"
            )
        col = (
            F.count(F.lit(1)) if kind == "count" else getattr(F, kind)(F.expr(expr))
        )
        aggs.append(col.alias(name))
    mv = fact.groupBy(*[F.col(d) for d in dims]).agg(*aggs)
    mv.write.mode("overwrite").parquet(path)
    meta = {
        "dims": list(dims),
        "measures": {k: list(v) for k, v in measures.items()},
    }
    with open(os.path.join(path, _META_FILE), "w") as fh:
        json.dump(meta, fh)
    return spark.read.parquet(path).count()


def load_mv_meta(path: str) -> dict | None:
    p = os.path.join(path, _META_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _write_mv_meta(path: str, meta: dict) -> None:
    """Atomic meta commit: the rename IS the transaction boundary for
    compaction (readers see either the old or the new generation,
    never a half-written pointer)."""
    p = os.path.join(path, _META_FILE)
    tmp = f"{p}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, p)


def answer_from_mv(
    spark: SparkSession,
    path: str,
    dims: tuple[str, ...],
    measures: tuple[str, ...],
) -> DataFrame:
    """Answer ``groupBy(dims).agg(measures)`` from the MV at ``path``.

    Raises :class:`RewriteError` when containment fails; the caller
    falls back to the fact table (the advisor pattern).  The returned
    plan reads ONLY the MV parquet — the point of the rewrite.
    """
    meta = load_mv_meta(path)
    if meta is None:
        raise RewriteError(f"no MV metadata under {path}")
    missing_dims = [d for d in dims if d not in meta["dims"]]
    if missing_dims:
        raise RewriteError(
            f"dims {missing_dims} not in MV dims {meta['dims']} — the MV "
            "is coarser than the request"
        )
    missing_measures = [m for m in measures if m not in meta["measures"]]
    if missing_measures:
        raise RewriteError(
            f"measures {missing_measures} not stored in this MV "
            f"(has {sorted(meta['measures'])})"
        )
    mv = spark.read.parquet(path)
    aggs = []
    for name in measures:
        kind = meta["measures"][name][0]
        aggs.append(_REAGG[kind](F.col(name)).alias(name))
    return mv.groupBy(*[F.col(d) for d in dims]).agg(*aggs)


# --- streaming maintenance: the MV as re-aggregable partials -----------------


def _batch_rollup(
    batch: DataFrame, dims: tuple[str, ...], measures: Mapping[str, tuple[str, str]]
) -> DataFrame:
    aggs = []
    for name, (kind, expr) in measures.items():
        col = (
            F.count(F.lit(1)) if kind == "count" else getattr(F, kind)(F.expr(expr))
        )
        aggs.append(col.alias(name))
    return batch.groupBy(*[F.col(d) for d in dims]).agg(*aggs)


def start_mv_maintenance(
    stream: DataFrame,
    mv_root: str,
    dims: tuple[str, ...],
    measures: Mapping[str, tuple[str, str]],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Maintain a rollup MV from a stream, replay-safe by construction.

    Every micro-batch writes its OWN partial aggregate to
    ``<mv_root>/partials/batch_id=N`` via dynamic partition overwrite:
    a replayed batch replaces its own partial instead of double-
    counting — the same (partition = attempt) idempotency contract as
    `streaming/structured.py::make_batch_sink`, applied to aggregate
    state.  Because every measure kind is RE-AGGREGABLE (the
    `create_rollup_mv` rule), the queryable MV is just the
    re-aggregation of all partials (:func:`read_maintained_mv`) and a
    maintenance pass can fold old partials into one folded generation
    (:func:`compact_mv_partials`) without changing any answer.

    Replay x compaction: once batch N is folded (``folded_through`` in
    the meta), its rows live inside the folded generation — a
    checkpoint-replayed batch N must NOT rewrite ``batch_id=N`` or
    every answer double-counts.  The sink therefore drops any batch at
    or below the folded watermark; dynamic overwrite keeps handling
    replays ABOVE it.  Keyed by ``batch_id`` too, an empty micro-batch's
    rollup has no rows even with no dims, so it writes no partial.
    """
    for name, (kind, _e) in measures.items():
        if kind not in _REAGG:
            raise RewriteError(f"measure {name}: kind '{kind}' not re-aggregable")

    partials = f"{mv_root}/partials"

    def _sink(batch: DataFrame, batch_id: int) -> None:
        cur = load_mv_meta(mv_root) or {}
        if int(batch_id) <= cur.get("folded_through", -1):
            return  # replayed batch already folded into a generation
        keyed = batch.withColumn("batch_id", F.lit(batch_id))
        out = _batch_rollup(keyed, ("batch_id", *dims), measures)
        write_partitioned(out, partials, "batch_id")

    os.makedirs(mv_root, exist_ok=True)
    # merge over existing meta: a restart must NOT reset the folded
    # watermark/generation, or the replay guard above goes blind
    meta = load_mv_meta(mv_root) or {}
    meta.update(
        {"dims": list(dims), "measures": {k: list(v) for k, v in measures.items()}}
    )
    _write_mv_meta(mv_root, meta)

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _partial_batch_ids(mv_root: str) -> list[int]:
    partials = f"{mv_root}/partials"
    if not os.path.isdir(partials):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(partials)
        if d.startswith("batch_id=")
    )


def _live_batch_ids(mv_root: str, meta: dict) -> list[int]:
    """Batch partials that count toward answers: ids above the folded
    watermark, plus a legacy ``batch_id=-1`` folded partial written by
    the pre-generation compactor (honored only while no generation
    exists — once gen>0 that data lives inside the generation)."""
    gen = meta.get("folded_gen", 0)
    through = meta.get("folded_through", -1)
    return [
        b
        for b in _partial_batch_ids(mv_root)
        if b > through or (b == -1 and gen == 0)
    ]


def _mv_parts(
    spark: SparkSession, mv_root: str, meta: dict, batch_ids: list[int]
) -> DataFrame | None:
    """The EXACT given batch partials + the folded generation.

    Callers pass the batch-id list explicitly so one filesystem listing
    feeds both "what to read" and any bookkeeping derived from it —
    compaction folding a re-listed (possibly larger) set than it
    watermarks would double-count late-committed batches forever.
    """
    gen = meta.get("folded_gen", 0)
    frames = []
    if batch_ids:
        frames.append(
            spark.read.option("basePath", f"{mv_root}/partials").parquet(
                *[f"{mv_root}/partials/batch_id={b}" for b in batch_ids]
            ).drop("batch_id")
        )
    if gen > 0:
        frames.append(spark.read.parquet(f"{mv_root}/folded/gen={gen}"))
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _reaggregate(parts: DataFrame, meta: dict) -> DataFrame:
    aggs = [
        _REAGG[kind](F.col(name)).alias(name)
        for name, (kind, _e) in ((k, tuple(v)) for k, v in meta["measures"].items())
    ]
    return parts.groupBy(*[F.col(d) for d in meta["dims"]]).agg(*aggs)


def read_maintained_mv(spark: SparkSession, mv_root: str) -> DataFrame:
    """The queryable face of a stream-maintained MV: re-aggregate the
    folded generation plus every batch partial above the folded
    watermark under the MV's own measure kinds."""
    meta = load_mv_meta(mv_root)
    if meta is None:
        raise RewriteError(f"no MV metadata under {mv_root}")
    parts = _mv_parts(spark, mv_root, meta, _live_batch_ids(mv_root, meta))
    if parts is None:
        raise RewriteError(f"no partials or folded generation under {mv_root}")
    return _reaggregate(parts, meta)


def compact_mv_partials(spark: SparkSession, mv_root: str) -> int:
    """Fold the current state (previous folded generation + all batch
    partials above the folded watermark) into generation G+1 — bounded
    partial count for a long-running maintenance stream.  Answers are
    invariant (re-aggregable measures); returns the number of batch
    PARTIALS folded (0 = nothing to do).  Run from the maintenance
    loop, not the hot path.

    Crash-safe ordering: the new generation is fully written BEFORE
    the atomic meta rename commits it; old dirs are garbage-collected
    after.  A crash at any point leaves either the old state (commit
    not reached) or the new state plus unreferenced garbage — never a
    window with no partials, which the old rmtree+rename swap had.
    The previous generation is retained for in-flight readers that
    resolved the old meta; it is removed on the NEXT compaction.

    Concurrency with the live stream: the batch-id list is taken in
    ONE listing and exactly that set is folded, watermarked, and
    GC'd — a batch the stream commits after the listing stays live
    above the watermark and is folded next time.  (Folding from a
    second listing would count such a batch inside the generation AND
    leave it live — double-counted forever.)
    """
    import shutil

    meta = load_mv_meta(mv_root)
    if meta is None:
        raise RewriteError(f"no MV metadata under {mv_root}")
    gen = meta.get("folded_gen", 0)
    to_fold = _live_batch_ids(mv_root, meta)  # the ONE listing
    if not to_fold:
        return 0
    parts = _mv_parts(spark, mv_root, meta, to_fold)
    folded = _reaggregate(parts, meta)
    new_gen = gen + 1
    folded.write.mode("overwrite").parquet(f"{mv_root}/folded/gen={new_gen}")
    meta = dict(meta)
    meta["folded_gen"] = new_gen
    meta["folded_through"] = max(to_fold)
    _write_mv_meta(mv_root, meta)  # <- the commit point
    # GC: folded batch partials and the generation BEFORE the previous
    # one (retention 1 generation for in-flight readers)
    for b in to_fold:
        shutil.rmtree(
            f"{mv_root}/partials/batch_id={b}", ignore_errors=True
        )
    if gen > 1:
        shutil.rmtree(f"{mv_root}/folded/gen={gen - 1}", ignore_errors=True)
    return len(to_fold)
