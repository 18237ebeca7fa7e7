"""Partitioning-robustness run: the full oracle differential under a
DIFFERENT shuffle layout (default: 7 shuffle partitions on local[5],
vs the engine's 32-on-32).

Every exactness claim in this engine (integer money, decimal(38,0)
accumulators, sequential per-row folds) implies results are invariant
to physical partitioning — no float shuffle-order dependence anywhere.
This runs the same driver-equivalent compare as check_oracle with the
layout changed; any query whose result depends on partition count or
merge order hash-mismatches here even though the standard run passes.

Usage: python tools/robustness_check.py [sf_dir] [query ...]
Env: SPARK_GRAFT_ROBUST_PARTITIONS (default 7), SPARK_GRAFT_ROBUST_CORES (5)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from etl_portofolio_spark.session import build_session

    n = os.environ.get("SPARK_GRAFT_ROBUST_PARTITIONS", "7")
    cores = os.environ.get("SPARK_GRAFT_ROBUST_CORES", "5")
    # check_oracle runs on THIS session: a second build_session call
    # would re-apply the default shuffle.partitions over the altered one.
    spark = build_session("robustness-check", master=f"local[{cores}]")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    # SPARK_GRAFT_ROBUST_AQE=off adds a second invariance axis: AQE
    # re-plans partitioning/joins at runtime, so an AQE-off pass proves
    # results don't depend on adaptive decisions either.
    if os.environ.get("SPARK_GRAFT_ROBUST_AQE", "").lower() == "off":
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    print(
        f"robustness layout: local[{cores}], shuffle.partitions={n}, "
        f"aqe={spark.conf.get('spark.sql.adaptive.enabled')}"
    )

    from tools.check_oracle import main as check_main

    return check_main(spark)


if __name__ == "__main__":
    raise SystemExit(main())
