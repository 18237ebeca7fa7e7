"""Fixture catalog: register the test parquet tables as temp views.

The reference reads Hive-metastore tables (``Processing Data.py:154-183``
reads ``dbnew.tb_r/tb_h/tb_i`` and the fact table). The new engine's
equivalent for the test harness is plain parquet scans registered as
views; in production these would be catalog tables partitioned by ``ds``.

Scans stay declarative (``spark.read.parquet``) so Catalyst gets
predicate pushdown, column pruning and partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: All fixture tables generated by the driver (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Columns stored as parquet TIMESTAMP(NANOS), which Spark cannot map to
#: its microsecond TimestampType directly. The session reads them as nano
#: longs (``spark.sql.legacy.parquet.nanosAsLong`` in RUNTIME_CONFS) and
#: we truncate to micros with integer division — the same truncation
#: DuckDB applies, so oracle comparisons agree to the microsecond.
_NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def listing_signature(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """``(name, size, mtime_ns)`` of each data file of the table at
    ``path``: the file itself, or every file under the directory outside
    ``_``/``.``-prefixed entries (Spark's hidden files), sorted. Stat
    calls only: no file is opened and no Spark job runs. ``None`` when
    ``path`` is not a local file or directory."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    out = []
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                full = os.path.join(dirpath, f)
                st = os.stat(full)
                out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


#: Per-process cache of INFERRED SCHEMAS (metadata only, never data):
#: schema inference on a parquet path costs a footer-reading driver job
#: on EVERY ``spark.read.parquet`` call (~135 ms each at sf0.1 —
#: measured r10), and every registry query pays it 1-3x per execution.
#: Production engines read catalog tables whose schemas are known; this
#: cache is the path-based equivalent: path -> (listing signature,
#: schema). A rewritten table (new names, sizes or mtimes) is inferred
#: again, so a column added in place is seen by the next ``load_table``.
_SCHEMA_CACHE: dict[str, tuple[object, object]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Plain parquet scan — pushdown-friendly."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    sig = listing_signature(path)
    sig_schema = _SCHEMA_CACHE.get(path)
    if sig_schema is None or sig_schema[0] != sig:
        sig_schema = _SCHEMA_CACHE[path] = (sig, spark.read.parquet(path).schema)
    df = spark.read.schema(sig_schema[1]).parquet(path)
    for col in _NANO_TS_COLUMNS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    return df


def register_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = TABLES,
) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view; return the frames."""
    frames: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        frames[name] = df
    return frames
