"""Capture USABLE weighted_shortest_path plan evidence (r10 verdict
item #8): the committed before/after dumps showed only the
post-localCheckpoint stub (`Scan ExistingRDD`, 4 nodes) because the
checkpoint truncates lineage. This dumps the PRE-checkpoint subplans —
the persisted pair census (`und`), the undirected edge union built from
it (both branches must show InMemoryRelation over ONE census subtree),
and one relaxation round (must show BroadcastHashJoin on the edge
union) — by replaying the exact construction from
round8_queries.q_weighted_shortest_path up to the first checkpoint.

Usage: python tools/dump_wsp_plans.py > plans/r11/weighted_shortest_path_subplans_after.txt
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_portofolio_spark.caching import release_cached, scoped_persist  # noqa: E402
from etl_portofolio_spark.catalog import load_table  # noqa: E402
from etl_portofolio_spark.plans.round8_queries import (  # noqa: E402
    _WSP_MIN_CO_DEN,
    _WSP_MIN_CO_NUM,
)
from etl_portofolio_spark.operators.util import spread_by  # noqa: E402
from etl_portofolio_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    spark = build_session("wsp-plan-dump")

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, SF_DIR, "part").select("p_partkey", "p_brand")
    sets = scoped_persist(
        spread_by(li, "l_orderkey")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("sb"))
    )
    w_max = sets.agg(F.count(F.lit(1)).alias("n")).select(
        F.expr(
            f"1000000 div (n * {_WSP_MIN_CO_NUM} div {_WSP_MIN_CO_DEN} + 1)"
        ).alias("w_max")
    )
    pair_expr = (
        "flatten(transform(sb, (x, i) -> "
        "transform(slice(sb, i + 2, size(sb)), "
        "y -> struct(x AS src, y AS dst))))"
    )
    und = scoped_persist(
        sets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.expr("1000000 div count(1)").cast("long").alias("w"))
        .join(F.broadcast(w_max))
        .where(F.col("w") <= F.col("w_max"))
        .drop("w_max")
    )
    edges = und.select("src", "dst", "w").unionAll(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    dist = sets.agg(F.min(F.element_at("sb", 1)).alias("brand")).select(
        "brand", F.lit(0).cast("long").alias("dist_w")
    )
    relaxed = (
        dist.join(F.broadcast(edges), dist["brand"] == edges["src"])
        .select(
            F.col("dst").alias("brand"),
            (F.col("dist_w") + F.col("w")).alias("dist_w"),
        )
        .unionAll(dist)
        .groupBy("brand")
        .agg(F.min("dist_w").alias("dist_w"))
    ).coalesce(1)

    print("=" * 72)
    print("SUBPLAN 1: pair census `und` (scoped_persist'd — the r10 fix")
    print("persists THIS, not the union, so the fact-scale pair expansion")
    print("runs once; domain-bounded <= C(|brands|,2) rows)")
    print("=" * 72)
    und.explain(mode="formatted")
    print("=" * 72)
    print("SUBPLAN 2: undirected edge union — both branches must read the")
    print("SAME InMemoryRelation (census computed once)")
    print("=" * 72)
    edges.explain(mode="formatted")
    print("=" * 72)
    print("SUBPLAN 3: one relaxation round pre-checkpoint — must show")
    print("BroadcastHashJoin (edges domain-bounded), not a shuffle join")
    print("=" * 72)
    relaxed.explain(mode="formatted")

    release_cached()
    spark.stop()


if __name__ == "__main__":
    main()
