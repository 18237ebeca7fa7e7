"""Read-side data skipping: one driver-side file index for file pruning.

The read-side half of ``sinks.writer.write_range_clustered`` (which
lays files out with disjoint per-file [min, max] envelopes on the
cluster column).  A point or range predicate on that column should
read ONE file, not all of them — this module makes that happen from
plain Spark + parquet, the way Delta's file-level stats / Iceberg's
manifest min-max do it.  Pruning is decided on the driver from
metadata; Spark only reads the files that survive.

- ``footer_zonemap``: per-file (file, min, max, rows) envelopes from
  parquet FOOTER statistics via pyarrow — metadata IO only, no data
  pages, no Spark job.  Footers are the only source of zonemap stats.
- ``refresh_zonemap`` / ``load_zonemap``: the persisted map, a single
  pyarrow-written file under ``<path>/_zonemap/<col>/``.  A refresh
  footer-reads only the files the map lacks and drops entries whose
  files are gone, so it serves both appends and compaction.
- The index is shared with ``sources.bloomindex``: both sidecars key
  each file by its path RELATIVE to the table root (the table directory
  may be renamed, or named by a relative path), both are read with
  pyarrow by :func:`_read_sidecar`, and :func:`_reconcile` joins either
  to the live listing — a file the sidecar lacks comes back with
  unknown stats and always survives; an entry whose file is gone drops.
- ``skipping_scan`` / ``skipping_scan_multi``: prune the file list
  against the predicate's [lo, hi] envelope, then
  :func:`_read_survivors` reads only surviving files and RE-APPLIES the
  exact predicate (the zonemap admits false positives — a surviving
  file can still hold rows outside the range; it can never hold a
  false negative, which is the correctness contract).

Parity note: mirrors the file/row-group statistics pruning of the
reference's scan path at the FILE granularity; row-group granularity
inside each surviving file is Spark's own parquet filter pushdown,
which composes with this (``PushedFilters`` in the scan node).
"""

from __future__ import annotations

import glob
import os
from collections.abc import Mapping

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: zonemap artifacts live under an underscore directory — Spark's file
#: listing ignores `_`/`.`-prefixed entries, so the map never pollutes
#: reads of the table itself (the `_SUCCESS` convention)
_ZONEMAP_DIR = "_zonemap"
_ZONEMAP_FILE = "zonemap.parquet"


def _data_files(path: str) -> list[str]:
    """Parquet DATA files under ``path``, sorted — excludes entries under
    ``_``/``.``-prefixed components (Spark's hidden-file convention:
    `_SUCCESS`, `_zonemap`, checkpoint metadata), matching what
    ``spark.read.parquet`` itself would list.
    """
    out = []
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        rel = os.path.relpath(f, path)
        if any(p.startswith(("_", ".")) for p in rel.split(os.sep)):
            continue
        out.append(f)
    return sorted(out)


def _footer_envelope(file: str, col: str) -> tuple[object, object, int]:
    """``(min, max, rows)`` of ``col`` from one file's parquet footer;
    min and max are ``None`` (unknown stats, never pruned) when the
    column is absent — a schema-evolved vintage that predates it, or a
    Hive partition column — or a row group carries no stats."""
    md = pq.read_metadata(file)
    if col not in md.schema.names:
        return None, None, md.num_rows
    idx = md.schema.names.index(col)
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None, md.num_rows
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return lo, hi, md.num_rows


def footer_zonemap(path: str, col: str) -> list[tuple[str, object, object, int]]:
    """Per-file envelopes from parquet FOOTER statistics — metadata-only
    IO (no data pages), no Spark job.

    Returns ``[(file_path, min, max, n_rows), ...]``.  Driver-side by
    design: footers are a few KiB each and the file count bounds the
    work — the same O(#files) contract as a manifest listing.  On an
    object store this is one ranged GET per file; for hot tables
    prefer the persisted map (``refresh_zonemap``).
    """
    return [(f, *_footer_envelope(f, col)) for f in _data_files(path)]


# --- the file index: sidecars keyed relative to the table root ---------------


def _read_sidecar(target: str) -> list[dict] | None:
    """Rows of a sidecar file or directory, read on the driver with
    pyarrow (no Spark job); ``None`` when none was ever written.  The
    directory read skips `_`/`.` entries (`_SUCCESS`, `.crc`, temp
    files), as Spark's would."""
    if not os.path.exists(target):
        return None
    return pq.read_table(target).to_pylist()


def _reconcile(
    path: str, entries: Mapping[str, tuple]
) -> list[tuple[str, tuple | None]]:
    """Join a sidecar, keyed by file path RELATIVE to the table root,
    to the live file listing — the property that makes a stale sidecar
    safe:

    - an entry whose file is gone from disk (compacted away) drops out
      (reading it would error);
    - a file on disk the sidecar lacks (appended since it was built)
      comes back paired with ``None``: unknown stats, so it ALWAYS
      survives pruning — skipping degrades, correctness doesn't.

    Returns ``[(live_file, entry or None), ...]`` with files spelled
    like ``path``.  An O(#files) driver-side listing, the same metadata
    contract as pruning itself.
    """
    return [(f, entries.get(os.path.relpath(f, path))) for f in _data_files(path)]


def _read_survivors(
    spark: SparkSession, path: str, files: list[str], conds: list[Column]
) -> DataFrame:
    """Read the files that survived pruning and re-apply the exact
    predicate ``conds`` — pruning is necessary, not sufficient.  No
    survivor gives an empty frame with the table's schema."""
    if not files:
        return spark.read.parquet(path).where(F.lit(False))
    # basePath keeps Hive partition columns in the schema when reading
    # a pruned subset of a partitioned layout — without it the two
    # branches (pruned vs empty-prune) would return different schemas
    df = spark.read.option("basePath", path).parquet(*files)
    for cond in conds:
        df = df.where(cond)
    return df


def _range_conds(preds: list[tuple[str, object | None, object | None]]) -> list[Column]:
    conds = []
    for col, lo, hi in preds:
        if lo is not None:
            conds.append(F.col(col) >= F.lit(lo))
        if hi is not None:
            conds.append(F.col(col) <= F.lit(hi))
    return conds


def prune_files(
    zonemap: list[tuple[str, object, object, int]],
    lo: object | None,
    hi: object | None,
) -> list[str]:
    """Files whose [zmin, zmax] envelope intersects [lo, hi].

    ``None`` bounds are open (half-range predicates).  A file with
    unknown stats (``zmin is None``) always survives — skipping may
    only ever drop files PROVEN irrelevant.
    """
    keep = []
    for f, zmin, zmax, _rows in zonemap:
        if zmin is None or zmax is None:
            keep.append(f)
            continue
        if lo is not None and zmax < lo:
            continue
        if hi is not None and zmin > hi:
            continue
        keep.append(f)
    return keep


def skipping_scan(
    spark: SparkSession,
    path: str,
    col: str,
    lo: object | None = None,
    hi: object | None = None,
    zonemap: list[tuple[str, object, object, int]] | None = None,
) -> DataFrame:
    """Range scan that reads only files whose envelope can match.

    The exact predicate is re-applied after pruning: the envelope test
    is necessary, not sufficient.  With a ``write_range_clustered``
    layout the surviving set for a point lookup is one file; with an
    unclustered layout pruning degrades gracefully to a full file
    list — never a wrong answer.
    """
    zmap = zonemap if zonemap is not None else footer_zonemap(path, col)
    return _read_survivors(
        spark, path, prune_files(zmap, lo, hi), _range_conds([(col, lo, hi)])
    )


# --- persisted zonemaps: the maintenance-loop artifact -----------------------


def _zonemap_dir(path: str, col: str) -> str:
    return os.path.join(path, _ZONEMAP_DIR, col)


def _mapped(rows: list[dict] | None) -> dict[str, tuple[object, object, int]]:
    return {r["file"]: (r["zmin"], r["zmax"], r["n_rows"]) for r in rows or ()}


def load_zonemap(path: str, col: str) -> list[tuple[str, object, object, int]] | None:
    """The persisted zonemap, reconciled against the live file listing
    (:func:`_reconcile`): unmapped files enter with unknown stats
    (``n_rows == -1``), so they always survive pruning.

    Returns ``None`` when no map was ever persisted (callers fall back
    to ``footer_zonemap``).
    """
    rows = _read_sidecar(_zonemap_dir(path, col))
    if rows is None:
        return None
    return [
        (f, *(e or (None, None, -1))) for f, e in _reconcile(path, _mapped(rows))
    ]


def refresh_zonemap(path: str, col: str) -> tuple[int, int, int]:
    """Bring the persisted zonemap at ``<path>/_zonemap/<col>/`` up to
    date touching only CHANGED files: footer-read the files the map
    lacks (appends since the last refresh, or the files a compaction
    wrote), drop entries whose files are gone, keep everything else
    verbatim.  With no map yet, every file is footer-read.  Returns
    (kept, added, dropped).

    The map is written with pyarrow to one fixed file name: a hidden
    temp file first, then ``os.replace`` over the old map, so a reader
    sees the old map or the new one, never a partial one.  Any other
    entry in the directory (a map written by an older layout) goes.
    """
    target = _zonemap_dir(path, col)
    mapped = _mapped(_read_sidecar(target))
    rows = []
    for f, e in _reconcile(path, mapped):
        zmin, zmax, n_rows = e or _footer_envelope(f, col)
        rows.append(
            {"file": os.path.relpath(f, path), "zmin": zmin, "zmax": zmax, "n_rows": n_rows}
        )
    kept = sum(r["file"] in mapped for r in rows)
    os.makedirs(target, exist_ok=True)
    tmp = os.path.join(target, "." + _ZONEMAP_FILE)
    pq.write_table(pa.Table.from_pylist(rows), tmp)
    os.replace(tmp, os.path.join(target, _ZONEMAP_FILE))
    for name in os.listdir(target):
        if name != _ZONEMAP_FILE:
            os.remove(os.path.join(target, name))
    return kept, len(rows) - kept, len(mapped) - kept


def skipping_scan_multi(
    spark: SparkSession,
    path: str,
    preds: list[tuple[str, object | None, object | None]],
) -> DataFrame:
    """Conjunctive multi-column range scan through file skipping: the
    surviving file set is the INTERSECTION of each column's zonemap
    prune — the read-side payoff of a Z-order clustered layout
    (`sinks/writer.py::write_zorder_clustered`), where every file's
    footer stats bound a box in the clustered dimensions.

    Exactly like :func:`skipping_scan`, the envelope test is necessary
    but not sufficient, so every predicate re-applies on the survivors;
    an unclustered layout degrades to reading every file — never a
    wrong answer.  Pruning cost is O(#files × #preds) footer metadata.
    """
    surviving: set[str] | None = None
    for col, lo, hi in preds:
        files = set(prune_files(footer_zonemap(path, col), lo, hi))
        surviving = files if surviving is None else (surviving & files)
    return _read_survivors(spark, path, sorted(surviving or ()), _range_conds(preds))
