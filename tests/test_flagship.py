"""The flagship daily pivot: null-minute parity with the reference's
full-outer oracle, the shape of the windowed plan on both events
layouts (micros ``ts`` and nanos ``ts``), and the dim chain's broadcast
joins."""

from __future__ import annotations

import os
from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from etl_portofolio_spark.plans.reference_queries import (
    ORACLE_FLAGSHIP,
    q_dim_chain_join,
    q_flagship_throughput_pivot,
)
from tools.check_oracle import compare

from .conftest import SF_DIR
from .test_plan_quality import _plan

_DIMS = ("region", "nation", "customer")


def _write(star: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(star, f"{name}.parquet"))


def test_null_minutes_match_full_outer_oracle(spark, tmp_path):
    """A null-ts click and a null-ts view of the same user never match in
    the reference's full-outer join, so they stay two rows."""
    star = str(tmp_path / "star")
    os.makedirs(star)
    _write(star, "region", pa.table({
        "r_regionkey": pa.array([0, 1], pa.int32()), "r_name": ["ASIA", "AFRICA"],
    }))
    _write(star, "nation", pa.table({
        "n_nationkey": pa.array([0, 1], pa.int32()),
        "n_name": ["CHINA", "KENYA"],
        "n_regionkey": pa.array([0, 1], pa.int32()),
    }))
    _write(star, "customer", pa.table({
        "c_custkey": pa.array([1, 2, 3], pa.int64()),
        "c_name": ["c1", "c2", "c3"],
        "c_nationkey": pa.array([0, 0, 1], pa.int32()),
    }))
    t = datetime(2024, 1, 1, 10, 0)
    events = [  # (user_id, event_type, ts, value)
        (1, "click", t.replace(second=5), 1.0),
        (1, "view", t.replace(second=30), 2.0),  # same minute: one row
        (1, "click", None, 3.0),
        (1, "view", None, 4.0),  # null minute: a row of its own
        (2, "view", t.replace(hour=11), 5.0),  # no click: null value_in
        (2, "click", None, 6.0),
        (2, "purchase", t, 7.0),  # neither direction
        (3, "click", t, 8.0),  # customer outside the dim chain
    ]
    _write(star, "events", pa.table({
        "event_id": pa.array(range(len(events)), pa.int64()),
        "user_id": pa.array([e[0] for e in events], pa.int64()),
        "event_type": [e[1] for e in events],
        "ts": pa.array([e[2] for e in events], pa.timestamp("us")),
        "value": [e[3] for e in events],
    }))

    sdf = q_flagship_throughput_pivot(spark, star)
    con = duckdb.connect()
    try:
        for name in (*_DIMS, "events"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{star}/{name}.parquet')"
            )
        rel = con.execute(ORACLE_FLAGSHIP)
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
    finally:
        con.close()
    assert not compare("flagship_null_minutes", sdf, rows, cols)
    assert len(rows) == 5
    assert sdf.where("menit_ts IS NULL").count() == 3


def _star(src: str, star: str, unit: str) -> str:
    """``src``'s dims and events, with ``events.ts`` stored as
    TIMESTAMP(``unit``) without a zone."""
    os.makedirs(star)
    for name in _DIMS:
        _write(star, name, pq.read_table(f"{src}/{name}.parquet"))
    ev = pq.read_table(f"{src}/events.parquet")
    i = ev.schema.get_field_index("ts")
    ts = ev["ts"].cast(pa.timestamp(unit), safe=False)
    _write(star, "events", ev.set_column(i, "ts", ts))
    return star


def _blocks(plan: str) -> list[str]:
    """A formatted plan's tree, then one detail block per node."""
    return [b.strip("\n") for b in plan.split("\n\n") if b.strip()]


def _events_scans(plan: str) -> list[str]:
    return [
        b for b in _blocks(plan)
        if "Scan parquet" in b.split("\n")[0] and "events.parquet" in b
    ]


def test_windowed_flagship_reads_events_once_with_bounds_at_the_scan(spark, tmp_path):
    """One events scan and no outer join. The bounds are pushed parquet
    filters on micros ``ts``; on nanos ``ts`` (converted in
    ``load_table``) they are a Filter in the events scan stage, below the
    dim join."""
    lo, hi = datetime(2024, 1, 2), datetime(2024, 1, 3)
    views = {t.name for t in spark.catalog.listTables()}

    micros_dir = _star(SF_DIR, str(tmp_path / "micros"), "us")
    micros = _plan(q_flagship_throughput_pivot(spark, micros_dir, lo, hi))
    nanos_dir = _star(SF_DIR, str(tmp_path / "nanos"), "ns")
    windowed = q_flagship_throughput_pivot(spark, nanos_dir, lo, hi)
    nanos = _plan(windowed)

    assert {t.name for t in spark.catalog.listTables()} == views
    for plan in (micros, nanos):
        assert len(_events_scans(plan)) == 1, plan
        assert "Outer" not in plan and "SortMergeJoin" not in plan, plan

    pushed = _events_scans(micros)[0].split("PushedFilters: ")[1].split("\n")[0]
    assert "GreaterThanOrEqual(ts,2024-01-02T00:00)" in pushed, pushed
    assert "LessThan(ts,2024-01-03T00:00)" in pushed, pushed

    # nanos: ts is a long at the scan, so the bound is a Filter on its
    # conversion, directly above the scan and below the dim join
    assert "ReadSchema: struct<ts:bigint" in _events_scans(nanos)[0]
    tree = [line.strip(" :+-") for line in _blocks(nanos)[0].split("\n")]
    details = {b.split(" ", 1)[0]: b for b in _blocks(nanos)[1:]}
    scan_id = _events_scans(nanos)[0].split(" ", 1)[0]
    scan = next(i for i, line in enumerate(tree) if line.endswith(f"Scan parquet  {scan_id}"))
    join, project, bound = tree[scan - 3 : scan]
    assert join.startswith("BroadcastHashJoin") and project.startswith("Project"), tree
    assert bound.startswith("Filter"), tree
    cond = details[bound.split(" ")[1]]
    assert "2024-01-02 00:00:00" in cond and "2024-01-03 00:00:00" in cond, cond
    assert windowed.count() == q_flagship_throughput_pivot(spark, micros_dir, lo, hi).count()


def test_dim_chain_broadcasts_both_dims_without_a_shuffle(spark):
    """Both dim joins are broadcast by the statement's hint, not by the
    size threshold: with automatic broadcasts off the plan still has two
    broadcast hash joins and no exchange."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = _plan(q_dim_chain_join(spark, SF_DIR))
    finally:
        spark.conf.set(key, old)
    assert plan.count(") BroadcastHashJoin") == 2, plan
    assert plan.count(") BroadcastExchange") == 2, plan
    assert ") Exchange" not in plan and "SortMergeJoin" not in plan, plan
