"""SparkSession factory.

The reference builds one identically-configured Hive session per job
(``Ingestion Data (XML).py:17-29``, ``Ingestion Data (MySQL).py:71-82``,
``Processing Data.py:71-82``: Hive support, cross-join enabled, static
1x4-core executor). The new engine centralises that into one factory with
scale-aware defaults: AQE on (runtime re-planning, skew-join handling,
shuffle coalescing replaces the reference's manual sample-based
repartitioning), Arrow for every Python<->JVM boundary, and dynamic
partition overwrite replacing TRUNCATE-PARTITION + append.
"""

from __future__ import annotations

import os
import site
import weakref

from pyspark.sql import SparkSession

#: Runtime confs every query should run under. These are all
#: runtime-settable, so they can also be applied to a session we did not
#: create (the driver harness builds its own session).
RUNTIME_CONFS: dict[str, str] = {
    # AQE: runtime shuffle-partition coalescing, skew-join splitting and
    # dynamic join-strategy switching. At 100 TB this is what turns a
    # static `spark.sql.shuffle.partitions` guess into right-sized stages.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-accelerate createDataFrame/toPandas and pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics: fixture timestamps are
    # timezone-naive parquet values; pin the session to UTC so
    # date_trunc/date_format agree with the DuckDB oracle regardless of
    # the host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Replaces the reference's TRUNCATE PARTITION + append idempotency
    # dance (`Ingestion Data (MySQL).py:132-149`) with an atomic
    # per-partition overwrite.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # The engine's `ds` partition key is a STRING yyyyMMdd (SURVEY §1.3);
    # without this, reading a partitioned table back infers ds=20240101
    # as an int and silently changes the schema contract.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    # InferFiltersFromGenerate synthesizes `size(arr) > 0` from every
    # explode(arr) and pushes it through projections/exchanges to the
    # scan. All of this engine's explodes are over COMPUTED arrays
    # (shingles, LSH keys, token splits), so the inferred filter can
    # never prune storage — it only re-inlines the full array
    # expression into the scan stage, re-running it serially per input
    # split (measured: 7x on the decontamination gram pipeline, whose
    # shingle work was duplicated below the parallelizing exchange).
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Fixture parquet stores some timestamps as TIMESTAMP(NANOS), which
    # Spark cannot map to its microsecond TimestampType; read them as
    # nano longs and let `catalog.load_table` truncate to micros.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Sessions that already got RUNTIME_CONFS (see `apply_runtime_confs`).
_CONFIGURED: weakref.WeakSet[SparkSession] = weakref.WeakSet()

#: Builder-time confs (only applied when *we* create the session).
BUILDER_CONFS: dict[str, str] = {
    # ~128 MiB input splits — the same "target ~128 MiB per unit of IO"
    # the reference encodes at `Ingestion Data (MySQL).py:44`.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "8g",
    # Broadcast threshold: dims (region/nation/customer at test SF) stay
    # broadcastable; at cluster scale AQE re-checks at runtime.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    # Progress bars interleave \r-frames with stdout; the driver's bench
    # capture keeps only the tail, so stray frames can push the JSON
    # result line out of the window (BENCH_r05 truncation).
    "spark.ui.showConsoleProgress": "false",
    # Python workers import the installed PySpark instead of
    # $SPARK_HOME's zip: about 0.2 s less per Python task (see the
    # module). Dropped by `build_session` where workers cannot import it.
    "spark.python.daemon.module": "etl_portofolio_spark.worker_daemon",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set RUNTIME_CONFS on ``spark`` the first time this session is seen.

    This is the one place runtime confs are decided: ``build_session``
    and the registry dispatch in ``__spark_entry__`` call it, plan
    builders never do. Later calls on the same session are no-ops, so a
    conf the caller changes afterwards (e.g. AQE off) stays changed.
    """
    if spark in _CONFIGURED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be non-settable on some builds; queries must not
            # hard-depend on any single conf to be *correct*, only faster.
            pass
    _CONFIGURED.add(spark)
    return spark


def _workers_import_package() -> bool:
    """Whether local Python workers find this package: they start in the
    driver's working directory with its ``PYTHONPATH`` (after Spark's own
    archives) and the interpreter's site-packages."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    dirs = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
    ]
    return any(d and os.path.realpath(d) == root for d in dirs)


def build_session(
    app_name: str = "etl-portofolio-spark",
    master: str | None = None,
    **overrides: str,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``
    (fallback ``local[*]``) so tests and bench share one entry point.
    ``overrides`` are builder confs; change a RUNTIME_CONFS value with
    ``spark.conf.set`` on the returned session.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    confs = {**BUILDER_CONFS, **overrides}
    if "spark.python.daemon.module" not in overrides and not _workers_import_package():
        del confs["spark.python.daemon.module"]
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())
