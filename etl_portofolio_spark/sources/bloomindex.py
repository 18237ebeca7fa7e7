"""File-level Bloom index: point-lookup pruning where zonemaps can't.

`sources/skipping.py` prunes RANGE predicates via per-file [min, max]
envelopes — which degenerates on an UNCLUSTERED layout (every file
spans the whole key range).  Equality lookups on high-cardinality
columns (the "find this one event / this one doc id" shape) need the
other classic sidecar: one Bloom filter per data file.  A needle value
lives in one file; the Bloom test eliminates the rest with ~1% false
positives, so the physical read is O(1) files instead of O(#files) —
the same per-file bloom_filter_columns idea Parquet/ORC/Delta ship,
implemented engine-side so ANY parquet layout gets it.

Design for 100 TB:
- **Build** is one distributed pass: a narrow (file, value) projection
  shuffles by file, and an Arrow-batched ``applyInPandas`` per file
  folds values into an m-bit array (double hashing over md5 — k
  derived indexes from two 64-bit halves, the standard Kirsch-
  Mitzenmacher construction).  Work is per-file parallel; the shuffle
  carries only the indexed column.
- **Sidecar** is O(#files) rows of (file, m, k, n, bits) parquet under
  ``<path>/_bloom/<col>/`` — the `_`-prefixed convention Spark readers
  ignore (same contract as `_zonemap`).  ``file`` is the path relative
  to the table root, the key of the file index in ``sources.skipping``.
- **Probe** is driver-side metadata, no Spark job: read the sidecar
  with pyarrow, reconcile it against the live listing, hash the needle
  once, test each file's bits, read survivors with basePath (partition
  columns kept), re-apply the exact predicate (Bloom admits false
  positives, never false negatives — the correctness contract mirrors
  ``skipping.prune_files``).

Hashing is md5-based like everything else in this engine, so the index
is byte-stable across runs, partitions, and Python processes (no
PYTHONHASHSEED dependence).
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.dataset as pa_ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.sources.skipping import (
    _read_sidecar,
    _read_survivors,
    _reconcile,
)

_BLOOM_DIR = "_bloom"
#: target bits per distinct value; 10 bits/value with k=7 gives ~0.8% FPP
_BITS_PER_VALUE = 10
_NUM_HASHES = 7


def _hash_pair(value: object) -> tuple[int, int]:
    """Two independent 64-bit hashes of the value's string form."""
    d = hashlib.md5(str(value).encode("utf-8")).digest()
    return (
        int.from_bytes(d[:8], "big"),
        int.from_bytes(d[8:], "big") | 1,  # odd: full-period stepping
    )


def _indexes(value: object, m: int, k: int = _NUM_HASHES) -> list[int]:
    h1, h2 = _hash_pair(value)
    return [(h1 + i * h2) % m for i in range(k)]


def build_bloom_index(
    spark: SparkSession, path: str, col: str, bits_per_value: int = _BITS_PER_VALUE
) -> int:
    """Build and persist per-file Bloom filters for ``col`` under
    ``<path>/_bloom/<col>/``; returns the number of files indexed,
    counted from the sidecar's parquet metadata (no read-back job).

    One distributed pass: per-file grouping + an Arrow-batched fold.
    ``m`` sizes to the file's row count (distinct-count upper bound),
    rounded up to a byte multiple.
    """
    import pandas as pd

    num_hashes = _NUM_HASHES
    # sidecar stores paths RELATIVE to the table root: the table dir
    # may move after the build (fixtures publish via tmp-dir + atomic
    # rename) and an absolute-path sidecar would then match nothing —
    # every file "unindexed", pruning silently dead
    root = os.path.abspath(path).rstrip("/")

    def _fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        f = pdf["__file"].iloc[0]
        for prefix in ("file://", ""):
            if f.startswith(prefix + root):
                f = f[len(prefix + root):]
                break
        else:
            # path spelling mismatch (symlinked dirs, scheme variants):
            # persisting a mangled pseudo-relative path would make every
            # probe miss-and-keep (full scan) — fail the BUILD instead
            raise ValueError(
                f"bloom build: listed file {f!r} is not under the table "
                f"root {root!r}; canonicalize the table path"
            )
        file = f.lstrip("/")
        values = pdf["__v"].dropna().unique()
        m = max(64, int(len(values) * bits_per_value + 7) // 8 * 8)
        bits = bytearray(m // 8)
        for v in values:
            for idx in _indexes(v, m, num_hashes):
                bits[idx >> 3] |= 1 << (idx & 7)
        return pd.DataFrame(
            {
                "file": [file],
                "m": [m],
                "k": [num_hashes],
                "n_values": [len(values)],
                "bits": [bytes(bits)],
            }
        )

    src = spark.read.parquet(path).select(
        F.input_file_name().alias("__file"), F.col(col).cast("string").alias("__v")
    )
    sidecar = src.groupBy("__file").applyInPandas(
        _fold, "file string, m long, k int, n_values long, bits binary"
    )
    target = os.path.join(path, _BLOOM_DIR, col)
    sidecar.write.mode("overwrite").parquet(target)
    return pa_ds.dataset(target, format="parquet").count_rows()


def _load_sidecar(
    path: str, col: str
) -> list[tuple[str, int | None, int | None, bytes | None]] | None:
    """Sidecar rows reconciled against the live listing
    (``skipping._reconcile``): one ``(file, m, k, bits)`` per live data
    file, ``m is None`` for a file the sidecar lacks.  ``None`` when no
    index was ever built."""
    rows = _read_sidecar(os.path.join(path, _BLOOM_DIR, col))
    if rows is None:
        return None
    indexed = {r["file"]: (r["m"], r["k"], r["bits"]) for r in rows}
    return [(f, *(e or (None, None, None))) for f, e in _reconcile(path, indexed)]


def _engine_string(spark: SparkSession, value: object) -> str:
    """The needle rendered exactly as the BUILD rendered column values.

    The sidecar hashes Spark's ``CAST(col AS STRING)``; a probe hashing
    Python's ``str(value)`` diverges wherever the renderings differ
    (``True`` vs ``true``, ``1e+16`` vs ``1.0E16``), turning every test
    into a false NEGATIVE — the one failure mode a Bloom index must
    never have.  Ints and strings render identically, so the common
    key types skip the round-trip; everything else is normalized
    through the same engine cast the build used.
    """
    if isinstance(value, str):
        return value
    if isinstance(value, int) and not isinstance(value, bool):
        return str(value)
    return spark.range(1).select(
        F.lit(value).cast("string").alias("v")
    ).first()["v"]


def bloom_prune_files(
    sidecar: list[tuple[str, int | None, int | None, bytes | None]], value: object
) -> list[str]:
    """Files whose Bloom filter claims the value may be present; a file
    the sidecar lacks (``m is None``) always survives.

    Like ``skipping.prune_files``: may keep useless files (false
    positives, ~1%), may NEVER drop a file that holds the value.

    ``value`` must already be the engine-rendered string for non-int,
    non-str needles (see :func:`_engine_string`); ``bloom_point_lookup``
    handles that normalization for callers.
    """
    keep = []
    for f, m, k, bits in sidecar:
        if m is None or all(
            bits[idx >> 3] & (1 << (idx & 7)) for idx in _indexes(value, m, k)
        ):
            keep.append(f)
    return keep


def bloom_point_lookup(
    spark: SparkSession,
    path: str,
    col: str,
    value: object,
    sidecar: list[tuple[str, int | None, int | None, bytes | None]] | None = None,
) -> DataFrame:
    """Equality lookup served through the Bloom sidecar: prune the file
    list, read survivors (basePath keeps partition columns), re-apply
    the exact predicate (``skipping._read_survivors``).  Falls back to a
    full scan when no index was ever built (pruning degrades,
    correctness doesn't) — the same degradation contract as
    ``skipping.load_zonemap``.  Files appended since the build always
    survive; entries whose files are gone were dropped by
    :func:`_load_sidecar`.
    """
    side = sidecar if sidecar is not None else _load_sidecar(path, col)
    exact = F.col(col) == F.lit(value)
    if side is None:
        return spark.read.parquet(path).where(exact)
    keep = bloom_prune_files(side, _engine_string(spark, value))
    return _read_survivors(spark, path, keep, [exact])
