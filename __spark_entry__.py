"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries live in ``etl_portofolio_spark.plans``; this module only
assembles the registry.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_portofolio_spark.plans.reference_queries import REFERENCE_QUERIES
from etl_portofolio_spark.session import apply_runtime_confs

# One (module, registry-dict-name) pair per plans module. Imports are
# collected eagerly; any failure is recorded and re-raised the moment
# the registry is actually used, so a typo in one module fails the
# driver (and the test suite) loudly instead of silently shrinking the
# registry and letting the rotation score only the survivors.
_PLAN_MODULES: tuple[tuple[str, str], ...] = (
    ("etl_portofolio_spark.plans.analytics_queries", "ANALYTICS_QUERIES"),
    ("etl_portofolio_spark.plans.pipeline_queries", "PIPELINE_QUERIES"),
    ("etl_portofolio_spark.plans.advanced_queries", "ADVANCED_QUERIES"),
    ("etl_portofolio_spark.plans.extension_queries", "EXTENSION_QUERIES"),
    ("etl_portofolio_spark.plans.round4_queries", "ROUND4_QUERIES"),
    ("etl_portofolio_spark.plans.round5_queries", "ROUND5_QUERIES"),
    ("etl_portofolio_spark.plans.round5b_queries", "ROUND5B_QUERIES"),
    ("etl_portofolio_spark.plans.round5c_queries", "ROUND5C_QUERIES"),
    ("etl_portofolio_spark.plans.round5d_queries", "ROUND5D_QUERIES"),
    ("etl_portofolio_spark.plans.round5e_queries", "ROUND5E_QUERIES"),
    ("etl_portofolio_spark.plans.round5f_queries", "ROUND5F_QUERIES"),
    ("etl_portofolio_spark.plans.round5g_queries", "ROUND5G_QUERIES"),
    ("etl_portofolio_spark.plans.round5h_queries", "ROUND5H_QUERIES"),
    ("etl_portofolio_spark.plans.round6_queries", "ROUND6_QUERIES"),
    ("etl_portofolio_spark.plans.round7_queries", "ROUND7_QUERIES"),
    ("etl_portofolio_spark.plans.round7b_queries", "ROUND7B_QUERIES"),
    ("etl_portofolio_spark.plans.round8_queries", "ROUND8_QUERIES"),
    ("etl_portofolio_spark.plans.round9_queries", "ROUND9_QUERIES"),
    ("etl_portofolio_spark.plans.round9b_queries", "ROUND9B_QUERIES"),
    ("etl_portofolio_spark.plans.round9c_queries", "ROUND9C_QUERIES"),
    ("etl_portofolio_spark.plans.round9d_queries", "ROUND9D_QUERIES"),
    ("etl_portofolio_spark.plans.round10_queries", "ROUND10_QUERIES"),
    ("etl_portofolio_spark.plans.round11_queries", "ROUND11_QUERIES"),
    ("etl_portofolio_spark.plans.round12_queries", "ROUND12_QUERIES"),
)

_ALL: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}
_ALL.update(REFERENCE_QUERIES)
_IMPORT_ERRORS: list[str] = []

for _mod_name, _attr in _PLAN_MODULES:
    try:
        import importlib

        _mod = importlib.import_module(_mod_name)
        _ALL.update(getattr(_mod, _attr))
    except Exception as exc:  # noqa: BLE001 — recorded and re-raised at use time
        _IMPORT_ERRORS.append(f"{_mod_name}: {type(exc).__name__}: {exc}")


def _require_full_registry() -> None:
    if _IMPORT_ERRORS:
        raise ImportError(
            "plan module(s) failed to import — registry would be "
            "silently incomplete:\n  " + "\n  ".join(_IMPORT_ERRORS)
        )


# Registry rotation: the driver's correctness gate checks only the
# FIRST 50 registry entries each round, so ordering IS evidence
# allocation. Instead of hand-maintained lists (which went stale in
# r3), the order is computed from the CORRECTNESS_r*.json evidence
# files committed at the repo root: queries sort by
# (times hash-green, times checked, registration order) ascending —
# red/never-checked queries always lead, brand-new queries (0 checks)
# go first, and twice-green queries rotate to the back. All queries
# stay registered regardless of position.
def _evidence_scores() -> dict[str, tuple[int, int]]:
    """name -> (n_green, n_checked) across all CORRECTNESS_r*.json."""
    import glob
    import json

    here = os.path.dirname(os.path.abspath(__file__))
    scores: dict[str, tuple[int, int]] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, r in rec.items():
            green, checked = scores.get(name, (0, 0))
            ok = (
                isinstance(r, dict)
                and r.get("err") is None
                and r.get("rows_match") is True
                and r.get("schema_match") is True
                and r.get("hash_match") is True
            )
            scores[name] = (green + (1 if ok else 0), checked + 1)
    return scores


# Spliced in at the VERY head of the rotation (ahead of the green-count
# sort — r11: every registry query now has >=1 green, so a recheck list
# that only outranked the zero-green group would land behind 296
# one-green queries and never reach the 50-slot window). Refresh (or
# empty) this tuple each round from the latest VERDICT.md.
# Round 11 (verdict item #7): the r10/r11 restructured tier, so the
# driver's sf0.01 hash gate covers every rewrite — this round's
# restructures first (jpeg fusion, rouge/bleu one-census, countmin
# re-A/B), then the r10 rewrites whose hash-level check was pending
# rotation, then the four kept spread_by sites.
_JUDGE_RECHECK: tuple[str, ...] = (
    "jpeg_pixel_stats",
    "rouge_ngram_overlap",
    "bleu_ngram_precision",
    "countmin_point_estimates",
    "dedup_minhash_pairs",
    "dedup_containment_pairs",
    "item_cf_cosine_topk",
    "weighted_shortest_path",
    "graph_modularity_partition",
    "streaming_tumbling_oracle",
    "ols_cramer_two_feature",
    "winnowing_fingerprints",
    "hits_two_step_scores",
    "frequent_triple_itemsets",
    "edge_triangle_support",
    "lead_lag_xcorr",
)


def _ordered() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    scores = _evidence_scores()
    reg_index = {n: i for i, n in enumerate(_ALL)}
    recheck_rank = {n: i for i, n in enumerate(_JUDGE_RECHECK)}
    names = sorted(
        _ALL,
        key=lambda n: (
            0 if n in recheck_rank else 1,                 # judge recheck list FIRST
            recheck_rank.get(n, 0),
            scores.get(n, (0, 0))[0],                      # times green asc
            scores.get(n, (0, 0))[1],                      # times checked asc
            reg_index[n],                                  # stable registration order
        ),
    )
    return {n: _ALL[n] for n in names}


def _dispatch(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Route a plan builder through the session's one-time conf setup, so
    a session built elsewhere gets RUNTIME_CONFS on its first query."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(apply_runtime_confs(spark), sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from etl_portofolio_spark.plans.reference_queries import (
        q_flagship_throughput_pivot,
    )

    spark = apply_runtime_confs(spark)
    return q_flagship_throughput_pivot(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions)."""
    _require_full_registry()
    return {name: _dispatch(fn) for name, (fn, _oracle) in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted => rows-only check)."""
    _require_full_registry()
    return {
        name: oracle for name, (_fn, oracle) in _ordered().items() if oracle is not None
    }
