"""Table-maintenance job — the background loop every incremental
pipeline needs behind its ingest watermark.

The reference's jobs append small batches forever (5-minute XML
windows, hourly JDBC stripes — `Ingestion Data (XML).py:70-162`,
`Ingestion Data (MySQL).py:122-181`) and its only maintenance is
`REFRESH TABLE`; on a real warehouse that layout decays: partition
listings grow without bound and every scan pays per-file open costs.  This
job is the missing nightly companion, composed from the engine's sink
operators:

1. **retention sweep** — drop partitions older than the keep horizon
   (metadata + filesystem only, `sinks/writer.retention_sweep`),
2. **targeted compaction** — list per-partition file stats
   (`partition_file_stats`, pure metadata) and rewrite ONLY the
   partitions whose file count exceeds the threshold
   (`compact_partition`, dynamic-overwrite scoped to one partition,
   optional sort clustering for min/max skipping),
3. **stats refresh** — optional `ANALYZE TABLE` for the CBO when the
   path is registered as a table (`analyze_table`),
4. **zonemap refresh** — optional (`zonemap_col`): the persisted map
   (`sources/skipping.refresh_zonemap`) footer-reads only the files it
   lacks and drops the ones compaction removed; no data scan, no job.

Scale shape: steps 1, 2 and 4 decide everything from filesystem
metadata — the only data read/written is the partitions actually
rewritten, so a quiet table costs O(#partitions) listing and nothing
else.  Reruns
are idempotent: a compacted partition no longer exceeds the threshold
and is skipped; a swept partition is gone.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from etl_portofolio_spark.session import build_session
from etl_portofolio_spark.sources.skipping import refresh_zonemap
from etl_portofolio_spark.sinks.writer import (
    analyze_table,
    compact_partition,
    partition_file_stats,
    retention_sweep,
    vacuum_snapshots,
)


def run_maintenance(
    spark: SparkSession,
    path: str,
    partition_col: str = "ds",
    keep_from: str | None = None,
    max_files_per_partition: int = 8,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: tuple[str, ...] = (),
    analyze_as: str | None = None,
    snapshot_roots: tuple[str, ...] = (),
    zonemap_col: str | None = None,
) -> dict:
    """Run the maintenance loop once; returns a summary dict
    (dropped partitions, compacted partitions with before/after file
    counts) so a scheduler can log/alert on it."""
    dropped = (
        retention_sweep(spark, path, partition_col, keep_from)
        if keep_from
        else []
    )
    stats = partition_file_stats(spark, path, partition_col)
    compacted: dict[str, tuple[int, int]] = {}
    for value, n_files, _bytes in stats:
        if n_files > max_files_per_partition:
            after = compact_partition(
                spark,
                path,
                partition_col,
                value,
                target_file_bytes=target_file_bytes,
                sort_cols=sort_cols,
            )
            compacted[value] = (n_files, after)
    if analyze_as:
        analyze_table(spark, analyze_as)
    # WAP roots (curate_corpus --publish outputs): sweep staging dirs
    # orphaned by crashed publishes — published/retired versions are
    # publish_snapshot's own retention, not maintenance's.
    vacuumed = {
        root: vacuum_snapshots(spark, root)
        for root in snapshot_roots
    }
    # zonemap refresh LAST — compaction just changed the file set, and
    # the persisted map must describe the files readers will actually
    # open (a stale map is still safe via skipping._reconcile, but
    # refreshed here the very next reader prunes at full strength).
    # The refresh footer-reads only the files the map lacks — appends,
    # or the files a compaction wrote — and drops the ones it removed.
    zonemap_files = None
    if zonemap_col:
        kept, added, _dropped = refresh_zonemap(path, zonemap_col)
        zonemap_files = kept + added
    return {
        "dropped": dropped,
        "compacted": compacted,
        "partitions_seen": len(stats),
        "vacuumed": {k: v for k, v in vacuumed.items() if v},
        "zonemap_files": zonemap_files,
    }


def main() -> None:  # pragma: no cover - thin CLI wrapper
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("path")
    ap.add_argument("--partition-col", default="ds")
    ap.add_argument("--keep-from", default=None)
    ap.add_argument("--max-files", type=int, default=8)
    ap.add_argument("--target-file-mb", type=int, default=128)
    ap.add_argument("--sort-cols", default="")
    ap.add_argument("--analyze-as", default=None)
    ap.add_argument(
        "--snapshot-roots",
        default="",
        help="comma-separated WAP roots to vacuum crashed staging from",
    )
    ap.add_argument(
        "--zonemap-col",
        default=None,
        help="refresh the persisted zonemap for this column after "
        "compaction (sources/skipping.py readers prune from it)",
    )
    args = ap.parse_args()
    spark = build_session("maintain_tables")
    summary = run_maintenance(
        spark,
        args.path,
        partition_col=args.partition_col,
        keep_from=args.keep_from,
        max_files_per_partition=args.max_files,
        target_file_bytes=args.target_file_mb * 1024 * 1024,
        sort_cols=tuple(c for c in args.sort_cols.split(",") if c),
        analyze_as=args.analyze_as,
        snapshot_roots=tuple(r for r in args.snapshot_roots.split(",") if r),
        zonemap_col=args.zonemap_col,
    )
    print(summary)


if __name__ == "__main__":  # pragma: no cover
    main()
