"""Differential checker mirroring the driver's correctness gate.

Runs each `__spark_entry__.queries()` entry and its `oracle_sql()` twin
(DuckDB) at a given sf dir, then compares row count, column names, and
order-insensitive values — exact equality, like a value hash would be.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    # Strict on purpose: the driver's value hash does NOT forgive Decimal
    # scale/exponent differences or tz-awareness, so neither do we
    # (VERDICT r1: six queries passed a normalize()/tz-strip checker but
    # failed the driver hash).
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sortkey(row):
    return tuple((x is None, str(x)) for x in row)


# Type classes that cross the driver's engine→hash boundary unstably even
# when Python values compare equal (learned from CORRECTNESS_r01: DuckDB
# sum(BIGINT)→HUGEINT, DECIMAL on either side, TIMESTAMPTZ vs naive).
#
# CORRECTNESS_r06 postmortem: the DB-API `cursor.description` reports
# HUGEINT (and every other numeric) as the generic 'NUMBER', so the
# r1-era check that read `rel.description` was BLIND to the exact type
# that caused all 8 r6 hash failures.  Duck-side detection now runs
# `DESCRIBE <sql>`, which returns exact DuckDB type names.
_SPARK_HAZARDS = ("decimal",)


def type_hazards(name, spark_df, con, sql) -> list[str]:
    from etl_portofolio_spark.plans.oracle_types import DUCK_HAZARD_TYPES

    errs = []
    for f in spark_df.schema.fields:
        if any(h in f.dataType.simpleString() for h in _SPARK_HAZARDS):
            errs.append(
                f"{name}: HAZARD spark column {f.name} is {f.dataType.simpleString()} "
                "(emit BIGINT/STRING/DOUBLE instead — driver hash is repr-sensitive)"
            )
    for col, t, *_ in con.execute(f"DESCRIBE {sql}").fetchall():
        if any(h in str(t).upper() for h in DUCK_HAZARD_TYPES):
            errs.append(
                f"{name}: HAZARD duck column {col} is {t} "
                "(wrap the oracle with plans.oracle_types.oracle_bigint, or "
                "CAST to BIGINT/VARCHAR/DOUBLE/naive TIMESTAMP)"
            )
    return errs


def _sig_digits(v: float) -> int:
    """Significant decimal digits in the shortest repr of v."""
    s = repr(float(v))
    if "e" in s or "E" in s:
        s = s.split("e")[0].split("E")[0]
    return len(s.lstrip("-0.").replace(".", "").rstrip("0") or "0")


def float_hazards(name, rows, cols) -> list[str]:
    """Flag emitted doubles whose magnitude ate the rounding headroom.

    A value rounded to k>=1 decimals is only reproducible across
    engines while |x| < 4.5e(15-k) (the repo's round-magnitude rule,
    recorded after the seasonal_decomposition catch; violated again by
    the r6 time_weighted_value at |x|~1e7 with k=9).  The audit flags
    a double that BOTH sits at dangerous magnitude (>=4.5e6 — past the
    bound even for k=9, the repo's largest k) AND still carries a
    fractional mantissa needing >15 significant digits: big money/
    measure values must emit as integer units.  Small-magnitude raw
    doubles (norms, ratios, correctly-rounded sqrt/division results)
    are IEEE-deterministic and pass untouched.

    ADVISORY, not a failure: a flagged value can also be the exact
    double image of a DECIMAL/integer aggregate (TPC-H Q1's sum_charge
    at sf0.1 — deterministic, both engines cast the same exact value),
    which is indistinguishable from a risky round(x,k) emission by
    looking at the output alone.  The caller prints these as WARN so
    new big-rounded-double emissions get eyeballs without failing
    queries whose exactness is carried by the value comparison itself.
    """
    worst: dict[int, float] = {}
    for r in rows:
        for i, v in enumerate(r):
            if (
                isinstance(v, float)
                and math.isfinite(v)  # int(inf) would raise OverflowError
                and abs(v) >= 4.5e6
                and v != int(v)
                and _sig_digits(v) > 15
            ):
                if abs(v) > abs(worst.get(i, 0.0)):
                    worst[i] = v
    return [
        f"{name}: HAZARD column {cols[i]} emits double {v!r} (magnitude "
        ">=4.5e6 with a >15-significant-digit mantissa) — past the "
        "round(x,k) reproducibility bound; emit integer units instead"
        for i, v in worst.items()
    ]


def compare(name, spark_df, duck_rows, duck_cols) -> list[str]:
    errs: list[str] = []
    s_cols = list(spark_df.columns)
    if sorted(s_cols) != sorted(duck_cols):
        errs.append(f"{name}: column mismatch spark={sorted(s_cols)} duck={sorted(duck_cols)}")
        return errs
    order = [s_cols.index(c) for c in sorted(s_cols)]
    d_order = [duck_cols.index(c) for c in sorted(duck_cols)]
    s_rows = [tuple(_norm(r[i]) for i in order) for r in spark_df.collect()]
    d_rows = [tuple(_norm(r[i]) for i in d_order) for r in duck_rows]
    if len(s_rows) != len(d_rows):
        errs.append(f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}")
    s_rows.sort(key=_sortkey)
    d_rows.sort(key=_sortkey)
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            errs.append(f"{name}: first value mismatch at sorted row {i}:\n  spark={a}\n  duck ={b}")
            break
    return errs


def main(spark=None) -> int:
    """Run the differential; ``spark`` is a caller-configured session
    (robustness_check) — building one here would reset its layout."""
    import duckdb

    import __spark_entry__ as entrymod
    from etl_portofolio_spark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = spark or build_session("oracle-check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures: list[str] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            n = fn(spark, sf_dir).count()
            print(f"  {name}: NO ORACLE (rows-only) rows={n}")
            continue
        warns: list[str] = []
        try:
            sdf = fn(spark, sf_dir)
            rel = con.execute(oracles[name])
            duck_cols = [d[0] for d in rel.description]
            duck_rows = rel.fetchall()
            errs = type_hazards(name, sdf, con, oracles[name])
            warns = float_hazards(name, duck_rows, duck_cols)
            errs += compare(name, sdf, duck_rows, duck_cols)
        except Exception as e:  # noqa: BLE001
            errs = [f"{name}: EXCEPTION {type(e).__name__}: {e}"]
        if errs:
            failures.extend(errs)
            print(f"  {name}: FAIL")
            for e in errs:
                print(f"    {e}")
        else:
            print(f"  {name}: OK ({len(duck_rows)} rows)")
        for w in warns:
            print(f"    WARN {w}")

    print(f"\n{'ALL OK' if not failures else f'{len(failures)} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
