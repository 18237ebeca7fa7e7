"""Round-7b wave: algorithmic cross-checks beyond the oracle hash —
HLL register mergeability, MMR greedy optimality vs brute force, MRR
unit exactness, the sink roundtrip's heal-after-double-ingest
invariant, and the incremental runner's windows under a non-UTC host
zone."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_hll_registers_merge_by_max(spark):
    """The sketch property that matters at 100 TB: registers built on
    disjoint shards and merged by MAX must equal registers built on
    the whole — otherwise the sketch can't be map-side-combined."""
    from etl_portofolio_spark.catalog import load_table
    from etl_portofolio_spark.functions.hashing import h32
    from etl_portofolio_spark.plans.round7b_queries import (
        _HLL_M,
        q_hll_register_sketch,
    )

    whole = {
        r["register"]: r["max_lowbit"]
        for r in q_hll_register_sketch(spark, SF_DIR).collect()
    }

    orders = load_table(spark, SF_DIR, "orders")
    ck = F.col("o_custkey").cast("string")
    keyed = orders.select(
        (h32(F.concat(F.lit("hllreg:"), ck)) % F.lit(_HLL_M)).alias("register"),
        h32(F.concat(F.lit("hllrho:"), ck)).alias("h"),
        (F.col("o_custkey") % 2).alias("shard"),
    ).select("register", F.expr("h & -h").alias("t"), "shard")
    merged = {}
    for shard in (0, 1):
        part = (
            keyed.where(F.col("shard") == shard)
            .groupBy("register")
            .agg(F.max("t").alias("m"))
            .collect()
        )
        for r in part:
            merged[r["register"]] = max(
                merged.get(r["register"], 0), r["m"]
            )
    assert merged == whole


def test_hll_lowbit_is_power_of_two(spark):
    from etl_portofolio_spark.plans.round7b_queries import (
        q_hll_register_sketch,
    )

    for r in q_hll_register_sketch(spark, SF_DIR).collect():
        t = r["max_lowbit"]
        assert t > 0 and (t & (t - 1)) == 0, t


def test_mmr_greedy_matches_bruteforce(spark):
    """Replay the greedy argmax in Python from the same rel/sim inputs
    the plan derives; the plan's picks must match selection-for-
    selection (the oracle proves values, this proves the ALGORITHM)."""
    from etl_portofolio_spark.catalog import load_table
    from etl_portofolio_spark.plans.round7b_queries import (
        _MMR_CAND,
        _MMR_PICK,
        q_mmr_diversified_topk,
    )

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, SF_DIR, "embeddings").collect()
    }

    def dot(a, b):
        # the plan's sequential left fold (aggregate from 0.0), exactly
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def cos(a, b):
        return dot(a, b) / ((dot(a, a) ** 0.5) * (dot(b, b) ** 0.5))

    p = emb[0]
    rel = {i: round(cos(p, v), 6) for i, v in emb.items() if i != 0}
    cand = sorted(rel, key=lambda i: (-rel[i], i))[:_MMR_CAND]
    sim = {
        (a, b): round(cos(emb[a], emb[b]), 6)
        for a in cand
        for b in cand
        if a != b
    }
    sel = [min(cand, key=lambda i: (-rel[i], i))]
    mmrs = [rel[sel[0]]]
    for _ in range(_MMR_PICK - 1):
        rem = [i for i in cand if i not in sel]
        scored = {
            i: round(rel[i] - max(sim[(i, j)] for j in sel), 6) for i in rem
        }
        pick = min(rem, key=lambda i: (-scored[i], i))
        sel.append(pick)
        mmrs.append(scored[pick])

    rows = sorted(
        q_mmr_diversified_topk(spark, SF_DIR).collect(),
        key=lambda r: r["sel_rank"],
    )
    assert [r["id"] for r in rows] == sel
    for got, want in zip((r["mmr_r6"] for r in rows), mmrs):
        # Python round() is half-even, Spark's HALF_UP: equal except at
        # exact half-boundaries, which cosine doubles never sit on
        assert abs(got - want) < 1e-9, (got, want)


def test_mrr_units_exact(spark):
    """rr_units_2520 must be exactly 2520/rank (lcm exactness) and -1
    ranks must carry 0 units."""
    from etl_portofolio_spark.plans.round7b_queries import (
        q_mrr_label_retrieval,
    )

    rows = q_mrr_label_retrieval(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        if r["first_rel_rank"] == -1:
            assert r["rr_units_2520"] == 0
        else:
            assert 1 <= r["first_rel_rank"] <= 10
            assert r["rr_units_2520"] * r["first_rel_rank"] == 2520


def test_sink_roundtrip_heals_double_ingest(spark, tmp_path):
    """After append + overlapping append + dynamic-overwrite heal, the
    warehouse must hold the source rows exactly once — the K4
    idempotency contract, checked at row-id granularity (the registry
    oracle checks day aggregates)."""
    from etl_portofolio_spark.catalog import load_table
    from etl_portofolio_spark.sinks.writer import write_partitioned

    ev = (
        load_table(spark, SF_DIR, "events")
        .withColumn("ds", F.to_date("ts"))
        .where(F.col("event_id") % 17 == 0)  # small, keeps the test fast
    )
    days = sorted(r["ds"] for r in ev.select("ds").distinct().collect())
    mid = days[len(days) // 2]
    tgt = str(tmp_path / "wh")
    write_partitioned(ev.where(F.col("ds") <= F.lit(mid)), tgt, "ds", mode="append")
    write_partitioned(ev.where(F.col("ds") >= F.lit(mid)), tgt, "ds", mode="append")
    dup = spark.read.parquet(tgt).groupBy("event_id").count()
    assert dup.where(F.col("count") > 1).count() > 0  # double-ingest is real
    write_partitioned(ev.where(F.col("ds") == F.lit(mid)), tgt, "ds", mode="overwrite")
    healed = spark.read.parquet(tgt)
    assert healed.count() == ev.count()
    assert healed.groupBy("event_id").count().where(F.col("count") > 1).count() == 0


def test_incremental_runner_ingest_windows_read_in_the_session_time_zone(
    spark, duck, tmp_path, monkeypatch
):
    """The runner's 12-hour windows are session-zone (UTC) hours whatever
    the host zone. The fixture cache points at ``tmp_path``, so the
    warehouse is built under the test's zone, never served from a
    cache another run built."""
    from etl_portofolio_spark import fixtures
    from etl_portofolio_spark.plans.round7b_queries import ROUND7B_QUERIES
    from tools.check_oracle import compare

    monkeypatch.setattr(fixtures, "_ROOT", str(tmp_path / "fixtures"))
    build, oracle = ROUND7B_QUERIES["incremental_runner_ingest"]
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Jakarta"
    time.tzset()
    try:
        got = build(spark, SF_DIR)
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert os.listdir(tmp_path / "fixtures")
    rel = duck.execute(oracle)
    rows, cols = rel.fetchall(), [d[0] for d in rel.description]
    assert not compare("incremental_runner_ingest", got, rows, cols)
