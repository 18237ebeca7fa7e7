"""Partitioned parquet writers — the reference's sink surface, Spark-first.

Reference behaviors re-expressed (SURVEY.md §2.2):

- K1 partitioned append (`Ingestion Data (MySQL).py:58-64`):
  ``df.write.partitionBy("ds").mode("append")``.
- K2 full overwrite (`Ingestion Data (MySQL).py:52-57`).
- K3 adaptive file sizing (`Ingestion Data (MySQL).py:34-51` — 10% sample
  write + py4j FileSystem.getContentSummary + repartition(ceil/128MiB)):
  replaced by a REBALANCE hint on the partition key. AQE then sizes the
  files from the shuffle's own statistics: one file per partition value
  when it is small, several when it exceeds
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. No sample write,
  no FS probe, no extra job.
- K4 idempotent re-ingest (TRUNCATE PARTITION + append,
  `Ingestion Data (MySQL).py:132-149`): replaced by dynamic partition
  overwrite — atomic per-partition replacement, safe to re-run. The mode
  travels with each write (write option or table property), never
  through the session conf.
- K5 metadata refresh (`REFRESH TABLE`, `Ingestion Data (MySQL).py:65`):
  ``spark.catalog.refreshByPath`` for path tables.

Every partitioned write is one observed pass: ``df.observe`` returns the
rows and partitions it wrote, so callers need no count or probe job.
At cluster scale the partition column (`ds`) keeps writes pruned to the
day being (re)loaded.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024  # reference's 128 MiB target

#: the overwrite mode every partitioned write carries as a write option
#: (path writes) or table property (catalog tables), so a write never
#: depends on, or changes, the session's ``partitionOverwriteMode``
_DYNAMIC = {"partitionOverwriteMode": "dynamic"}


def _observed_write(
    df: DataFrame,
    cols: list[str],
    write: Callable[[DataFrame], None],
    metrics: Mapping[str, Column] | None = None,
) -> dict:
    """Run ``write`` on ``df`` observed and rebalanced on ``cols``.

    ``df.observe`` aggregates ``n_rows``, the set of partition values
    written (``partitions``: values for one column, Rows for a
    composite key) and any caller ``metrics`` in the tasks that write
    the files, so none of them costs a pass of its own. The REBALANCE
    hint lets AQE size the files (K3): small output coalesces to one
    file per partition value, and a value larger than
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` splits across
    several.
    """
    obs = Observation()
    key = F.col(cols[0]) if len(cols) == 1 else F.struct(*cols)
    named = {
        "n_rows": F.count(F.lit(1)),
        "partitions": F.collect_set(key),
        **(metrics or {}),
    }
    write(
        df.observe(obs, *[c.alias(n) for n, c in named.items()]).hint(
            "rebalance", *cols
        )
    )
    got = {**dict.fromkeys(named), "n_rows": 0, "partitions": [], **observed(obs)}
    got["partitions"] = set(got["partitions"])
    return got


def observed(obs: Observation) -> dict:
    """``obs.get`` once its action ran; ``{}`` when the optimizer proved
    the observed plan empty and dropped the observation node (Spark then
    reports an empty row, which ``Observation.get`` cannot convert)."""
    return obs.get if obs._jo.getRow().length() else {}


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str | list[str] = "ds",
    mode: str = "overwrite",
    data_format: str = "parquet",
    metrics: Mapping[str, Column] | None = None,
) -> dict:
    """Partitioned columnar write with idempotent per-partition overwrite,
    in one observed pass; returns what it wrote.

    ``mode="overwrite"`` + dynamic partition overwrite replaces ONLY the
    partitions present in ``df`` (the reference's truncate-then-append
    dance, K4, as one atomic operation); ``mode="append"`` is the plain
    K1 append. ``partition_col`` may be a composite key (list) — the
    streaming sink uses ``[ds, batch_id]``. ``data_format`` selects the
    columnar container ("parquet" default, "orc" for ORC-standardized
    warehouses) — both are Spark-native vectorized formats with
    identical pushdown/pruning semantics.

    The result holds ``n_rows`` and ``partitions`` (see
    :func:`_observed_write`) plus one entry per caller ``metrics``
    column (null-key counts, envelope stats), all collected by the
    write pass itself. They catch input-data surprises on every batch;
    WAP (`publish_snapshot`) reads back staged files and catches writer
    bugs. An empty frame writes no partition and reports ``n_rows == 0``.
    """
    cols = [partition_col] if isinstance(partition_col, str) else list(partition_col)

    def write(out: DataFrame) -> None:
        out.write.partitionBy(*cols).format(data_format).mode(mode).options(
            **_DYNAMIC
        ).save(path)

    got = _observed_write(df, cols, write, metrics)
    refresh_path(df.sparkSession, path)
    return got


def overwrite_table(df: DataFrame, path: str, data_format: str = "parquet") -> None:
    """K2: unpartitioned full overwrite (`Ingestion Data (MySQL).py:52-57`)."""
    df.write.format(data_format).mode("overwrite").save(path)
    refresh_path(df.sparkSession, path)


def refresh_path(spark: SparkSession, path: str) -> None:
    """K5: invalidate cached metadata for a path-based table."""
    try:
        spark.catalog.refreshByPath(path)
    except Exception:
        pass  # path not cached / not a table — refresh is best-effort


# --- catalog (metastore) table variants --------------------------------------
#
# The reference's sink is a NAMED catalog table, not a path: saveAsTable
# into the metastore, SHOW PARTITIONS for the watermark, TRUNCATE ...
# PARTITION for day rollover, REFRESH TABLE after writes (`Ingestion
# Data (MySQL).py:24-26, 58-65, 142-149`). These mirror the path API
# above 1:1 on spark.catalog tables (plain datasource tables — no Hive
# metastore needed; works against Derby/in-memory catalogs alike).


def write_partitioned_table(
    df: DataFrame,
    table: str,
    partition_col: str | list[str] = "ds",
    mode: str = "overwrite",
) -> dict:
    """K1/K4 against a catalog table: create on first write, then
    per-partition dynamic overwrite (or plain append) via ``insertInto``.
    Returns ``n_rows`` and ``partitions`` like :func:`write_partitioned`.

    ``saveAsTable(mode="overwrite")`` would drop and recreate the WHOLE
    table; ``insertInto`` under dynamic partition overwrite replaces
    only the partitions present in ``df`` — the truncate-then-append
    dance as one atomic statement. The table is created with
    ``partitionOverwriteMode=dynamic`` as a storage property, which
    every later ``insertInto`` honours whatever the session sets (the
    same option on the ``insertInto`` writer is ignored, and a static
    session would wipe the other partitions). ``insertInto`` is
    positional, so columns are realigned to the table schema first.
    """
    spark = df.sparkSession
    cols = [partition_col] if isinstance(partition_col, str) else list(partition_col)
    if not spark.catalog.tableExists(table):

        def write(out: DataFrame) -> None:
            out.write.partitionBy(*cols).format("parquet").options(
                **_DYNAMIC
            ).saveAsTable(table)

    else:
        df = df.select(*spark.table(table).columns)

        def write(out: DataFrame) -> None:
            out.write.mode(mode).insertInto(table)

    got = _observed_write(df, cols, write)
    refresh_table(spark, table)
    return got


def latest_table_partition(
    spark: SparkSession, table: str, partition_col: str = "ds"
) -> str | None:
    """S7/A2 watermark from ``SHOW PARTITIONS`` — the reference's probe
    (`Ingestion Data (MySQL).py:23-31`) verbatim, O(#partitions) metadata
    only, no data scan."""
    if not spark.catalog.tableExists(table):
        return None
    values = []
    for row in spark.sql(f"SHOW PARTITIONS {table}").collect():
        spec = dict(kv.split("=", 1) for kv in row[0].split("/"))
        if partition_col in spec:
            values.append(spec[partition_col])
    return max(values) if values else None


def truncate_table_partition(
    spark: SparkSession, table: str, partition_col: str, value: str
) -> None:
    """The reference's ``TRUNCATE TABLE ... PARTITION`` day-rollover
    (`Ingestion Data (MySQL).py:142-149`) — kept for parity; the runner
    itself prefers dynamic overwrite (truncate+append in one op)."""
    spark.sql(f"TRUNCATE TABLE {table} PARTITION ({partition_col}='{value}')")
    refresh_table(spark, table)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int,
    sort: bool = True,
) -> None:
    """Bucketed (+sorted) catalog table: the 100 TB co-located-join lever.

    Two facts bucketed by the same key into the same bucket count join
    WITHOUT any Exchange — the shuffle was paid once at write time and
    amortizes over every downstream join/aggregation on that key
    (`sortBy` additionally removes the join's Sort). This is the
    Spark-native analogue of the reference storing pre-partitioned
    MySQL extracts. Bucket pruning also applies to equality filters on
    the bucket column.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.format("parquet").saveAsTable(table)


def refresh_table(spark: SparkSession, table: str) -> None:
    """K5: ``REFRESH TABLE`` (`Ingestion Data (MySQL).py:65`)."""
    try:
        spark.sql(f"REFRESH TABLE {table}")
    except Exception:
        pass  # table dropped concurrently — refresh is best-effort


# --- maintenance: compaction / retention / statistics -------------------------


def compact_partition(
    spark: SparkSession,
    path: str,
    partition_col: str,
    value: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    sort_cols: tuple[str, ...] = (),
) -> int:
    """Rewrite ONE partition's small files into ~target-sized files.

    The small-files problem is the classic side effect of frequent
    incremental appends (every reference micro-batch adds files). The
    rewrite is scoped to a single partition — read partition, rewrite
    via dynamic overwrite — so it is safe to run per-day behind the
    ingest watermark and touches nothing else. The file count is the
    partition's listed bytes over ``target_file_bytes`` — metadata
    only, no data pass. ``sort_cols`` clusters rows within files for
    parquet min/max skipping. Returns the file count after compaction.
    Atomicity note: dynamic partition overwrite replaces the partition
    in one commit; a crashed compaction leaves the old files in place.
    """
    part_dir = f"{path}/{partition_col}={value}"
    part_df = spark.read.parquet(path).where(F.col(partition_col) == value)
    n_files = max(1, -(-sum(_data_file_sizes(spark, part_dir)) // target_file_bytes))
    if sort_cols:
        # cluster rows ACROSS files: range-repartition gives each output
        # file a disjoint key range (coalesce would leave interleaved
        # keys in every file), then sort within for row-group stats —
        # parquet min/max skipping then prunes whole files. One shuffle,
        # paid once at compaction time: the Z-ORDER-lite lever.
        compacted = part_df.repartitionByRange(
            n_files, *sort_cols
        ).sortWithinPartitions(*sort_cols)
    else:
        # coalesce (no shuffle): reading N small files otherwise yields
        # N output tasks
        compacted = part_df.coalesce(n_files)
    (
        compacted.write.partitionBy(partition_col)
        .format("parquet")
        .mode("overwrite")
        .options(**_DYNAMIC)
        .save(path)
    )
    refresh_path(spark, path)
    return len(_data_file_sizes(spark, part_dir))


def _data_file_sizes(spark: SparkSession, directory: str) -> list[int]:
    """Byte sizes of the parquet data files directly under ``directory``
    — a filesystem listing, no data scan."""
    jpath, fs = _hadoop_fs(spark, directory)
    return [
        f.getLen()
        for f in fs.listStatus(jpath)
        if f.getPath().getName().endswith(".parquet")
    ]


def retention_sweep(
    spark: SparkSession,
    path: str,
    partition_col: str,
    keep_from: str,
) -> list[str]:
    """Drop partitions strictly older than ``keep_from`` (lexicographic
    on the partition value — the reference's `ds=yyyyMMdd` strings sort
    chronologically). Metadata + file-system only: O(#partitions), no
    data scan. Returns the dropped partition values."""
    jpath, fs = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    dropped = []
    prefix = f"{partition_col}="
    for entry in fs.listStatus(jpath):
        name = entry.getPath().getName()
        if entry.isDirectory() and name.startswith(prefix):
            value = name[len(prefix):]
            if value < keep_from:
                fs.delete(entry.getPath(), True)
                dropped.append(value)
    refresh_path(spark, path)
    return sorted(dropped)


def analyze_table(
    spark: SparkSession, table: str, columns: tuple[str, ...] = ()
) -> None:
    """ANALYZE TABLE (+ optional column stats): feeds the cost-based
    optimizer the row counts / NDVs that drive join reordering and
    build-side selection — on a real warehouse this runs after every
    large write, same cadence as the reference's REFRESH."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-clustered layout: the write-side half of data skipping.

    ``repartitionByRange`` + ``sortWithinPartitions`` on the cluster
    key gives every output file a DISJOINT [min, max] envelope for
    that column, so parquet row-group stats (or the zone-map kept by
    ``partition_zonemap_stats``) prune point/range predicates to a
    single file instead of scanning all of them — the clustering a
    Delta OPTIMIZE ZORDER/Iceberg sort order buys, from plain Spark.
    Range boundaries come from reservoir sampling the key (one extra
    pass Spark runs internally); skew in the key shows up as uneven
    file sizes, not overlap.
    """
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.format("parquet")
        .mode(mode)
        .save(path)
    )
    refresh_path(df.sparkSession, path)


def write_sorted_sequences(
    df: DataFrame,
    path: str,
    key_col: str,
    order_cols: tuple[str, ...] = ("ts",),
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Sequence-export layout: every key's rows land in ONE file, in
    order — what a sequence-model dataloader (per-user event history,
    per-conversation turns, per-doc chunks) consumes with a pure
    sequential read, no shuffle or sort at training time.

    Hash-bucket the key, repartition on the bucket (all rows of a key
    co-locate), then ``sortWithinPartitions(key, *order)`` so each
    file is grouped by key with rows ordered inside the group — the
    write-side sort is the ONLY shuffle+sort this data ever needs;
    every downstream epoch reads it back for free. Bucket count sizes
    the files (keys hash-spread uniformly); a skewed key makes a fat
    file, never a wrong one.
    """
    bucket = F.pmod(F.hash(F.col(key_col)), F.lit(n_buckets))
    (
        df.repartition(n_buckets, bucket)
        .sortWithinPartitions(key_col, *order_cols)
        .write.format("parquet")
        .mode(mode)
        .save(path)
    )
    refresh_path(df.sparkSession, path)


def partition_file_stats(
    spark: SparkSession, path: str, partition_col: str
) -> list[tuple[str, int, int]]:
    """Per-partition (value, n_files, total_bytes) from a filesystem
    listing — pure metadata, O(#partitions + #files), no data scan.

    The observability half of the maintenance loop: `maintain_tables`
    uses it to pick WHICH partitions deserve a compaction rewrite
    instead of blindly rewriting the whole table (at 100 TB the cost
    difference between "rewrite 2 hot days" and "rewrite the table"
    is the whole game).
    """
    jpath, fs = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    prefix = f"{partition_col}="
    for entry in fs.listStatus(jpath):
        name = entry.getPath().getName()
        if entry.isDirectory() and name.startswith(prefix):
            sizes = _data_file_sizes(spark, entry.getPath().toString())
            out.append((name[len(prefix):], len(sizes), sum(sizes)))
    return sorted(out)


# --- write-audit-publish: versioned snapshots, atomic pointer flip -----------
#
# The publication protocol a 1000-executor pipeline needs and plain
# `mode("overwrite")` cannot give: overwrite DELETES the live table
# before the new write finishes, so a concurrent reader (or a failed
# job) sees a partial or empty table. WAP stages the new snapshot in a
# version directory nobody reads, audits WHAT WAS ACTUALLY WRITTEN
# (read back from the staged files — a writer bug is caught here, not
# by auditing the in-memory frame), and only then flips a tiny pointer
# file. Readers resolve the pointer first, so they see the old snapshot
# or the new one — never a mix, never a partial write. This is the
# version-pointer half of what Delta's `_last_checkpoint` / Iceberg's
# `version-hint.text` do, from plain Spark + parquet.


class AuditError(RuntimeError):
    """A staged snapshot failed its publication audits; the live
    pointer was left untouched and the staged files were removed."""


_WAP_POINTER = "_CURRENT"


def _hadoop_fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _read_pointer(spark: SparkSession, root: str) -> int | None:
    ptr, fs = _hadoop_fs(spark, f"{root}/{_WAP_POINTER}")
    if not fs.exists(ptr):
        return None
    stream = fs.open(ptr)
    try:
        raw = bytes(stream.readAllBytes()).decode("ascii").strip()
    finally:
        stream.close()
    return int(raw.removeprefix("v="))


def snapshot_versions(spark: SparkSession, root: str) -> list[int]:
    """All staged/published version numbers under ``root`` (ascending),
    from a filesystem listing — metadata only."""
    jroot, fs = _hadoop_fs(spark, root)
    if not fs.exists(jroot):
        return []
    out = []
    for entry in fs.listStatus(jroot):
        name = entry.getPath().getName()
        if entry.isDirectory() and name.startswith("v="):
            out.append(int(name[2:]))
    return sorted(out)


def publish_snapshot(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    audits: Mapping[str, Column] | None = None,
    min_rows: int = 1,
    keep_versions: int = 3,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Write-audit-publish one snapshot of ``df`` under ``root``;
    returns the published version number.

    1. **Write**: stage to ``root/v=<n>/`` (n = max existing + 1 — a
       directory no reader resolves yet, so a failed job leaves only
       dead files, never a broken table).
    2. **Audit**: read the STAGED parquet back and evaluate ``audits``
       (boolean rules, "violation when false" — the
       :func:`operators.contracts.violations_report` contract) plus a
       ``min_rows`` floor (an empty snapshot is a pipeline bug, the
       reference's empty-write gate as a publication rule). One
       combinable aggregation pass regardless of rule count. Any
       violation deletes the staged directory and raises
       :class:`AuditError`; the live pointer never moves.
    3. **Publish**: write ``root/_CURRENT.tmp`` and rename it over
       ``root/_CURRENT``. POSIX rename replaces atomically; on HDFS
       (rename-to-existing fails) the tmp+delete+rename leaves a
       sub-ms pointer-absent window readers should retry through —
       production HDFS would use FileContext.rename(OVERWRITE); on
       object stores the single-key pointer PUT is itself atomic.
       Either way data files are immutable once published.
    4. **Retire**: drop all but the newest ``keep_versions`` version
       directories (never the one just published) — bounded storage,
       and the kept tail is the time-travel window
       (``read_snapshot(version=...)``).
    """
    from etl_portofolio_spark.operators.contracts import violations_report

    version = (max(snapshot_versions(spark, root), default=0)) + 1
    staged = f"{root}/v={version}"
    writer = df.write.format("parquet").mode("overwrite")
    if partition_by:
        # A snapshot may keep an inner partition layout (e.g. split/lang)
        # for pruned reads; the version directory is still the atomic unit.
        writer = writer.partitionBy(*partition_by)
    writer.save(staged)

    back = spark.read.parquet(staged)
    if audits:
        report = violations_report(back, dict(audits)).first()
        bad = {
            k: report[k]
            for k in report.asDict()
            if k.startswith("v_") and report[k] > 0
        }
        n_rows = report["n_rows"]
    else:
        bad = {}
        n_rows = back.count()
    if n_rows < min_rows or bad:
        jstaged, fs = _hadoop_fs(spark, staged)
        fs.delete(jstaged, True)
        detail = f"rows={n_rows} (min {min_rows})" if n_rows < min_rows else ""
        raise AuditError(
            f"snapshot v={version} failed audits: {bad or detail} — not published"
        )

    ptr, fs = _hadoop_fs(spark, f"{root}/{_WAP_POINTER}")
    tmp, _ = _hadoop_fs(spark, f"{root}/{_WAP_POINTER}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(f"v={version}\n".encode("ascii"))
    finally:
        out.close()
    if not fs.rename(tmp, ptr):  # POSIX rename-over failed (e.g. HDFS)
        fs.delete(ptr, False)
        if not fs.rename(tmp, ptr):
            raise OSError(f"could not flip pointer {ptr}")

    for old in snapshot_versions(spark, root)[:-keep_versions]:
        if old != version:
            jold, _ = _hadoop_fs(spark, f"{root}/v={old}")
            fs.delete(jold, True)
    refresh_path(spark, root)
    return version


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read the published snapshot (or a kept older ``version`` — time
    travel within the retention window). Resolves the pointer FIRST,
    then reads only that version's directory, so a publish racing this
    read flips between complete snapshots, never a partial one."""
    v = version if version is not None else _read_pointer(spark, root)
    if v is None:
        raise FileNotFoundError(f"no published snapshot under {root}")
    if v not in snapshot_versions(spark, root):
        raise FileNotFoundError(f"snapshot v={v} not present under {root}")
    return spark.read.parquet(f"{root}/v={v}")


def vacuum_snapshots(spark: SparkSession, root: str) -> list[int]:
    """Remove orphaned version directories a crashed publish left
    behind: any version NEWER than the live pointer was staged but
    never published (its job died between write and flip), so no
    reader can resolve it and the next publish will skip past it.
    Published-but-retired versions are `publish_snapshot`'s own
    retention concern, not vacuum's. Returns the removed versions;
    no-op (empty) when nothing is published yet — staged work in a
    root with no pointer might be a first publish in flight, and
    vacuuming it would race that job."""
    current = _read_pointer(spark, root)
    if current is None:
        return []
    removed = []
    for v in snapshot_versions(spark, root):
        if v > current:
            jold, fs = _hadoop_fs(spark, f"{root}/v={v}")
            fs.delete(jold, True)
            removed.append(v)
    return removed


# --- observed writes: free in-flight audit metrics ---------------------------


#: the default audit metric set for an events-shaped frame (pass it as
#: ``write_partitioned(..., metrics=...)``): the checks a feed alert
#: actually pages on
def default_write_metrics(key_col: str, ts_col: str) -> dict[str, Column]:
    return {
        "n_rows": F.count(F.lit(1)),
        "n_null_keys": F.sum(F.col(key_col).isNull().cast("long")),
        "min_ts": F.min(ts_col),
        "max_ts": F.max(ts_col),
    }


def export_jsonl_shards(
    df: DataFrame,
    path: str,
    rows_per_shard: int,
    order_col: str | None = None,
    compression: str | None = "gzip",
) -> int:
    """Training-data export: newline-delimited JSON shards of bounded
    row count — the interchange format most LLM data loaders consume
    (one JSON doc per line, shard-per-worker streaming reads).

    ``maxRecordsPerFile`` bounds every shard without a pre-write
    shuffle; with ``order_col`` the frame is range-repartitioned and
    sorted first so shards carry disjoint, ordered key ranges (stable
    curriculum order across re-exports — consumers map shard index to
    curriculum position).  Returns the shard count from a metadata-only
    listing.  Gzip is the default: JSONL compresses 5-10× and every
    loader streams it; pass ``compression=None`` for raw.
    """
    out = df
    if order_col is not None:
        n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
        out = df.repartitionByRange(n_parts, F.col(order_col)).sortWithinPartitions(
            order_col
        )
    writer = (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_shard)
    )
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
    import glob
    import os

    return len(
        [
            f
            for f in glob.glob(os.path.join(path, "part-*"))
            if not f.endswith("_SUCCESS")
        ]
    )


def _morton_interleave(a: Column, b: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` of two non-negative ints into a
    Morton (Z-order) key — pure shift/and expressions, codegen-friendly.
    """
    key = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        key = (
            key
            + (abit * F.lit(1 << (2 * i)))
            + (bbit * F.lit(1 << (2 * i + 1)))
        )
    return key


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Two-column Z-order clustering — the multi-dimensional half of
    data skipping (what Delta's OPTIMIZE ZORDER / Iceberg's z-order
    sort buy), from plain Spark.

    A 1-D range cluster makes ONE column's per-file envelopes disjoint
    and leaves the other column's envelopes spanning the full domain;
    interleaving the two columns' quantile RANKS into a Morton key
    before range-partitioning keeps each file's envelope narrow on BOTH
    columns (~sqrt(n_files) shrink per dimension), so
    ``sources.skipping`` prunes range predicates on EITHER column.

    Ranks come from ``percent_rank`` per column scaled to the bit
    budget — rank-based (not value-based) interleaving makes the key
    robust to skew and to mismatched column scales.  The per-column
    window is a global sort at write time — the same cost class as
    ``repartitionByRange``'s sampling+sort that 1-D clustering already
    pays; clustering IS the expensive step that reads amortize.
    """
    from pyspark.sql import Window

    scale = (1 << bits) - 1
    ra = (
        # global-window: write-time clustering IS the global sort (same cost class as repartitionByRange; see docstring)
        F.percent_rank().over(Window.orderBy(col_a)) * scale
    ).cast("long")
    rb = (
        # global-window: second clustering dimension, same dispensation
        F.percent_rank().over(Window.orderBy(col_b)) * scale
    ).cast("long")
    keyed = df.withColumn("__z", _morton_interleave(ra, rb, bits))
    (
        keyed.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.format("parquet")
        .mode(mode)
        .save(path)
    )
    refresh_path(df.sparkSession, path)
