"""Round-9b query wave — engine and pipeline mechanics still missing
from the registry as first-class, oracle-gated operators: link-analysis
scores beyond PageRank (two-step HITS on the bipartite purchase graph),
the optimizer's join-cardinality estimation audited against exact
per-key products, Apriori frequent-itemset mining at the triple level,
exact multi-feature OLS via Cramer determinants on decimal(38,0)
accumulators, and (later entries) ranking/eval and layout mechanics.

Each entry: name -> (builder(spark, sf_dir) -> DataFrame, DuckDB oracle
SQL).  Determinism contract as every other wave: integer arithmetic
end to end wherever the value feeds a filter, rank, or the hash path;
where a double is unavoidable it is computed ONCE per bounded group
from exact integer sums with an identical IEEE expression tree in both
engines, then rounded (the ``stats_corr_exact`` discipline).

Scale theme of the wave: BOUNDED PANELS FROM ONE FACT PASS.  Every
query reduces the fact tables to a domain-bounded panel (brands,
join-key families, itemsets over a 25-brand domain, per-flag moment
sums) with map-side-combinable aggregations before any quadratic or
order-sensitive step runs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.plans.analytics_queries import cents
from etl_portofolio_spark.plans.oracle_types import oracle_bigint

ROUND9B_QUERIES: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {}


# ---------------------------------------------------------------------------
# hits_two_step_scores — unnormalized HITS on the customer→brand graph
# ---------------------------------------------------------------------------


def q_hits_two_step_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unnormalized HITS iterations over the bipartite
    customer→brand purchase graph — the link-analysis twin of
    ``brand_graph_pagerank`` that distinguishes HUBS (customers whose
    baskets concentrate on authoritative brands) from AUTHORITIES
    (brands bought by strong hubs).  Unnormalized power iteration
    keeps every score an exact INTEGER path count: ``auth1(b)`` is
    b's distinct-buyer count, ``hub1(c) = Σ_b e(c,b)·auth1(b)``, and
    ``auth2(b) = Σ_c e(c,b)·hub1(c)`` counts the 3-step paths
    c'→b'→c→b landing on b — so the ranking is hash-stable without
    any float normalization (the usual L2 step only rescales, it
    never reorders).

    Scale design: edges are ONE distinct over (custkey, brand) — a
    single fact-scale shuffle, PERSISTED because all three propagation
    reads (auth1, hub1, auth2) consume it (unpersisted, the explain
    audit showed the 3-table build replayed 4×: 24 scans → 6);
    ``auth1`` is a 25-row panel broadcast back onto the edge list; the
    two propagation steps are combinable sums keyed on custkey then
    brand.  At 100 TB each iteration is one key-partitioned aggregate
    over the cached edge list — the structure GraphX uses for HITS,
    expressed as joins.
    """
    from etl_portofolio_spark.caching import scoped_persist

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    from etl_portofolio_spark.operators.util import spread_by

    # spread_by(l_orderkey): parallelize the one-row-group test scan's
    # two join probes + the distinct's partial aggregation, and
    # co-partition the orders join (no-op at production split counts)
    edges = scoped_persist(
        spread_by(li, "l_orderkey")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "p_brand")
        .distinct()
    )
    auth1 = edges.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("auth1")
    )
    hub1 = (
        edges.join(F.broadcast(auth1), "p_brand")
        .groupBy("o_custkey")
        .agg(F.sum("auth1").cast("long").alias("hub1"))
    )
    auth2 = (
        edges.join(hub1, "o_custkey")
        .groupBy("p_brand")
        .agg(F.sum("hub1").cast("long").alias("auth2"))
    )
    from pyspark.sql import Window

    # bounded: brand panel (bounded brand domain)
    w = Window.orderBy(F.desc("auth2"), F.asc("p_brand"))
    return (
        auth1.join(auth2, "p_brand")
        .select(
            "p_brand",
            "auth1",
            "auth2",
            F.row_number().over(w).cast("long").alias("auth_rank"),
        )
        .orderBy("auth_rank")
    )


_HITS_SQL = oracle_bigint(
    """
WITH edges AS (
  SELECT DISTINCT o.o_custkey, p.p_brand
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
), auth1 AS (
  SELECT p_brand, COUNT(*) AS auth1 FROM edges GROUP BY p_brand
), hub1 AS (
  SELECT e.o_custkey, SUM(a.auth1) AS hub1
  FROM edges e JOIN auth1 a ON e.p_brand = a.p_brand
  GROUP BY e.o_custkey
), auth2 AS (
  SELECT e.p_brand, SUM(h.hub1) AS auth2
  FROM edges e JOIN hub1 h ON e.o_custkey = h.o_custkey
  GROUP BY e.p_brand
)
SELECT a1.p_brand, a1.auth1, a2.auth2,
       ROW_NUMBER() OVER (ORDER BY a2.auth2 DESC, a1.p_brand) AS auth_rank
FROM auth1 a1 JOIN auth2 a2 ON a1.p_brand = a2.p_brand
ORDER BY auth_rank
""",
    "auth1",
    "auth2",
    "auth_rank",
)

ROUND9B_QUERIES["hits_two_step_scores"] = (q_hits_two_step_scores, _HITS_SQL)


# ---------------------------------------------------------------------------
# join_cardinality_estimate — optimizer estimate vs exact per-key product
# ---------------------------------------------------------------------------

_JOIN_FAMILIES: tuple[tuple[str, str, str, str, str], ...] = (
    ("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("customer_orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
    ("supplier_lineitem", "supplier", "s_suppkey", "lineitem", "l_suppkey"),
)


def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cost model a join reorderer actually runs, audited: for
    each FK join family, the textbook containment estimate
    ``|A ⋈ B| ≈ |A|·|B| / max(ndv_A, ndv_B)`` versus the EXACT join
    cardinality ``Σ_k c_A(k)·c_B(k)`` computed from per-key count
    panels — the number Catalyst's CBO would use versus the number a
    perfect histogram would give.  The permille error column is what
    decides whether a stats refresh is worth the scan.

    All arithmetic is integer: the estimate multiplies through
    decimal(38,0) (a 100 TB fact pair overflows BIGINT·BIGINT) and
    floors back to BIGINT via integer ``div``; the exact count sums
    bounded per-key products (FK fan-outs, never corpus-scale).

    Scale design: per family, both sides reduce to per-key count
    panels FIRST (map-side combinable), so the "exact" join is a join
    of two aggregates on the key — never row×row; the four 1-row
    results cross-join into one panel.  This is exactly how an
    ANALYZE-backed optimizer validates its own stats.
    """
    outs: list[DataFrame] = []
    for fam, t1, k1, t2, k2 in _JOIN_FAMILIES:
        c1 = (
            load_table(spark, sf_dir, t1)
            .groupBy(F.col(k1).alias("k"))
            .agg(F.count(F.lit(1)).alias("c1"))
        )
        c2 = (
            load_table(spark, sf_dir, t2)
            .groupBy(F.col(k2).alias("k"))
            .agg(F.count(F.lit(1)).alias("c2"))
        )
        s1 = c1.agg(
            F.sum("c1").cast("long").alias("n1"),
            F.count(F.lit(1)).cast("long").alias("d1"),
        )
        s2 = c2.agg(
            F.sum("c2").cast("long").alias("n2"),
            F.count(F.lit(1)).cast("long").alias("d2"),
        )
        actual = c1.join(c2, "k").agg(
            F.sum(F.col("c1") * F.col("c2")).cast("long").alias("actual_rows")
        )
        outs.append(
            s1.crossJoin(s2)
            .crossJoin(actual)
            .select(
                F.lit(fam).alias("join_family"),
                "n1",
                "n2",
                "d1",
                "d2",
                F.expr(
                    "cast((cast(n1 as decimal(38,0)) * cast(n2 as decimal(38,0)))"
                    " div greatest(d1, d2) as long)"
                ).alias("est_rows"),
                "actual_rows",
                F.expr(
                    "(1000 * abs(cast((cast(n1 as decimal(38,0))"
                    " * cast(n2 as decimal(38,0))) div greatest(d1, d2) as long)"
                    " - actual_rows)) div actual_rows"
                )
                .cast("long")
                .alias("err_permille"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("join_family")


def _jce_block(fam: str, t1: str, k1: str, t2: str, k2: str) -> str:
    return f"""
SELECT '{fam}' AS join_family, n1, n2, d1, d2,
       CAST((CAST(n1 AS HUGEINT) * n2) // GREATEST(d1, d2) AS BIGINT)
         AS est_rows,
       actual_rows,
       (1000 * abs(CAST((CAST(n1 AS HUGEINT) * n2) // GREATEST(d1, d2)
                        AS BIGINT) - actual_rows)) // actual_rows
         AS err_permille
FROM (SELECT COUNT(*) AS n1, COUNT(DISTINCT {k1}) AS d1 FROM {t1}),
     (SELECT COUNT(*) AS n2, COUNT(DISTINCT {k2}) AS d2 FROM {t2}),
     (SELECT CAST(SUM(c1 * c2) AS BIGINT) AS actual_rows
      FROM (SELECT {k1} AS k, COUNT(*) AS c1 FROM {t1} GROUP BY 1) a
      JOIN (SELECT {k2} AS k, COUNT(*) AS c2 FROM {t2} GROUP BY 1) b
      USING (k))
"""


_JCE_SQL = oracle_bigint(
    "\nUNION ALL\n".join(_jce_block(*fam) for fam in _JOIN_FAMILIES)
    + "\nORDER BY join_family",
    "err_permille",
)

ROUND9B_QUERIES["join_cardinality_estimate"] = (
    q_join_cardinality_estimate,
    _JCE_SQL,
)


# ---------------------------------------------------------------------------
# frequent_triple_itemsets — Apriori at the triple level over brand baskets
# ---------------------------------------------------------------------------

#: support threshold as a permille of basket count: support*1000 >= n*_MINSUP
_TRIPLE_MINSUP_PERMILLE = 5  # 0.5% of baskets


def q_frequent_triple_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori frequent-itemset mining at the TRIPLE level over
    per-order brand baskets — the market-basket operator behind
    ``brand_basket_lift`` (pairs) taken one level deeper, where the
    candidate space is the real cost problem.  A triple is frequent
    when it appears in ≥ 0.5% of baskets; by the Apriori property every
    frequent triple's items and sub-pairs are themselves frequent, so
    the plan prunes baskets to FREQUENT ITEMS ONLY before any triple
    is ever materialized (level-1 pruning), and triples expand
    map-side from each basket's ≤7-brand sorted array — never a
    3-way fact self-join.

    The oracle states the same set declaratively (3-way self-join of
    the distinct basket-item pairs with a HAVING on support): equal
    results prove the pruned expansion is lossless.

    Scale design: one fact-scale shuffle builds the sorted basket
    arrays; the frequent-item panel is domain-bounded (≤25 brands)
    and folds in via a broadcast cross-join (no driver action); the
    triple census is one combinable aggregation on a bounded key
    domain (C(25,3) ≤ 2300).  At 100 TB the item-level prune is what
    keeps candidate counts sublinear — the Apriori argument itself.

    Why there is NO level-2 (frequent-pair) prune (r9 verdict item
    #6, measured round 10): on this corpus the brand domain is small
    and DENSE — at 0.5% minsup ALL 25 items and ALL C(25,2)=300 pairs
    are frequent, at sf0.1 AND at the 100x salted corpus (measured by
    the exact pair census). An L2 step would therefore prune zero
    triple candidates while adding a second fact-scale expansion pass
    (the pair census costs the same map-side basket expansion one
    level down), strictly increasing the 8.6 per-decade ratio it was
    meant to shave. The ratio's driver is the unavoidable basket-
    building shuffle plus the bounded-key triple census, both linear
    in baskets. On a SPARSE item domain (real retail at 100 TB,
    |items| >> 25) the same plan shape admits the classic L2 step —
    census pairs with the identical slice/transform expansion, filter
    the basket arrays against the broadcast frequent-pair panel
    before triple expansion — and it pays exactly when
    freq_pairs/C(freq_items,2) << 1, which is measurable with the one
    cheap pair census before committing to the triple pass.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    from etl_portofolio_spark.caching import scoped_persist
    from etl_portofolio_spark.operators.util import spread_by

    # spread_by(l_orderkey): parallelize the one-row-group test scan's
    # broadcast probe + basket partial aggregation; the keyed exchange
    # already satisfies the groupBy (no-op at production split counts)
    sets = scoped_persist(
        spread_by(li, "l_orderkey")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("sb"))
    )
    n_baskets = sets.agg(F.count(F.lit(1)).alias("n"))
    # level-1 Apriori prune: items frequent on their own (support*1000 >= n*minsup)
    items = (
        sets.select(F.explode("sb").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(n_baskets))
        .where(F.col("c") * 1000 >= F.col("n") * _TRIPLE_MINSUP_PERMILLE)
        .agg(F.array_sort(F.collect_list("b")).alias("freq_items"))
    )
    pruned = sets.crossJoin(F.broadcast(items)).select(
        F.array_intersect("sb", "freq_items").alias("sb")
    )
    triple_expr = (
        "flatten(transform(sb, (x, i) -> "
        "flatten(transform(slice(sb, i + 2, size(sb)), (y, j) -> "
        "transform(slice(sb, i + j + 3, size(sb)), "
        "z -> struct(x AS a, y AS b, z AS c))))))"
    )
    return (
        pruned.where(F.size("sb") >= 3)
        .select(F.explode(F.expr(triple_expr)).alias("t"))
        .groupBy("t.a", "t.b", "t.c")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .crossJoin(F.broadcast(n_baskets))
        .where(F.col("support") * 1000 >= F.col("n") * _TRIPLE_MINSUP_PERMILLE)
        .select(
            F.col("a").alias("brand_a"),
            F.col("b").alias("brand_b"),
            F.col("c").alias("brand_c"),
            "support",
            F.expr("(1000 * support) div n").cast("long").alias("support_permille"),
        )
        .orderBy("brand_a", "brand_b", "brand_c")
    )


_TRIPLE_SQL = oracle_bigint(
    f"""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), nb AS (
  SELECT COUNT(DISTINCT o) AS n FROM ob
)
SELECT t1.b AS brand_a, t2.b AS brand_b, t3.b AS brand_c,
       COUNT(*) AS support,
       (1000 * COUNT(*)) // MAX(nb.n) AS support_permille
FROM ob t1
JOIN ob t2 ON t1.o = t2.o AND t1.b < t2.b
JOIN ob t3 ON t1.o = t3.o AND t2.b < t3.b
CROSS JOIN nb
GROUP BY t1.b, t2.b, t3.b
HAVING COUNT(*) * 1000 >= MAX(nb.n) * {_TRIPLE_MINSUP_PERMILLE}
ORDER BY brand_a, brand_b, brand_c
""",
    "support",
    "support_permille",
)

ROUND9B_QUERIES["frequent_triple_itemsets"] = (
    q_frequent_triple_itemsets,
    _TRIPLE_SQL,
)


# ---------------------------------------------------------------------------
# ols_cramer_two_feature — exact multi-feature OLS via Cramer determinants
# ---------------------------------------------------------------------------

#: identical determinant expression trees, parsed by BOTH engines from the
#: same text — the stats_corr_exact discipline extended to a 3×3 solve:
#: exact decimal(38,0) moment sums, cast to DOUBLE once, one IEEE tree.
_OLS_DET = "(n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2))"
_OLS_DET0 = "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y))"
_OLS_DET1 = "(n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2))"
_OLS_DET2 = "(n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2))"


def q_ols_cramer_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed multiple regression: price-cents on
    (quantity, discount-permille) with intercept, per return flag,
    solved by Cramer's rule on the 3×3 normal equations.  The six
    moment sums accumulate as decimal(38,0) over INTEGER features —
    algebraically mergeable across any partitioning, so the fit is
    bit-identical at any cluster size (a streaming float ``Σxy`` is
    not).  The determinants are evaluated ONCE per group in double
    from the SAME textual expression tree in both engines
    (``stats_corr_exact`` discipline), then rounded.

    This is the closed-form regression a SQL engine can actually run
    at 100 TB: one combinable aggregation, a 3-row panel, no gradient
    loop, no driver-side matrix library.

    Scale design: single fact pass, map-side partial aggregation on a
    3-value key; everything after the shuffle is constant-size.
    """
    from etl_portofolio_spark.operators.util import spread

    # round-robin spread of the PROJECTED columns (guide §2.3: project
    # before the exchange): the nine decimal(38,0) moment partials are
    # the query's dominant per-row work and otherwise serialize on the
    # one-row-group test scan's single task. NOT keyed: l_returnflag
    # has 3 values, so a keyed spread could use at most 3 cores.
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_discount", "l_extendedprice"
        )
    )
    x1 = cents("l_quantity", 0)
    x2 = cents("l_discount", 3)
    y = cents("l_extendedprice")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(dec(x1)).alias("__s1"),
        F.sum(dec(x2)).alias("__s2"),
        F.sum(dec(x1 * x1)).alias("__s11"),
        F.sum(dec(x1 * x2)).alias("__s12"),
        F.sum(dec(x2 * x2)).alias("__s22"),
        F.sum(dec(y)).alias("__sy"),
        F.sum(dec(x1 * y)).alias("__s1y"),
        F.sum(dec(x2 * y)).alias("__s2y"),
    )
    doubles = agg.select(
        "l_returnflag",
        F.col("__n").cast("long").alias("n_items"),
        F.col("__n").cast("double").alias("n"),
        F.col("__s1").cast("double").alias("s1"),
        F.col("__s2").cast("double").alias("s2"),
        F.col("__s11").cast("double").alias("s11"),
        F.col("__s12").cast("double").alias("s12"),
        F.col("__s22").cast("double").alias("s22"),
        F.col("__sy").cast("double").alias("sy"),
        F.col("__s1y").cast("double").alias("s1y"),
        F.col("__s2y").cast("double").alias("s2y"),
    )
    return doubles.select(
        "l_returnflag",
        "n_items",
        F.expr(f"round({_OLS_DET0} / {_OLS_DET}, 6)").alias("beta_intercept_c"),
        F.expr(f"round({_OLS_DET1} / {_OLS_DET}, 6)").alias("beta_qty_c"),
        F.expr(f"round({_OLS_DET2} / {_OLS_DET}, 6)").alias("beta_disc_permille_c"),
    ).orderBy("l_returnflag")


_OLS_X1 = "CAST(round(l_quantity, 0) AS BIGINT)"
_OLS_X2 = "CAST(round(l_discount * 1000, 0) AS BIGINT)"
_OLS_Y = "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"

_OLS_SQL = f"""
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n_items,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST({_OLS_X1} AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(SUM(CAST({_OLS_X2} AS DECIMAL(38,0))) AS DOUBLE) AS s2,
         CAST(SUM(CAST({_OLS_X1} * {_OLS_X1} AS DECIMAL(38,0))) AS DOUBLE) AS s11,
         CAST(SUM(CAST({_OLS_X1} * {_OLS_X2} AS DECIMAL(38,0))) AS DOUBLE) AS s12,
         CAST(SUM(CAST({_OLS_X2} * {_OLS_X2} AS DECIMAL(38,0))) AS DOUBLE) AS s22,
         CAST(SUM(CAST({_OLS_Y} AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST({_OLS_X1} * {_OLS_Y} AS DECIMAL(38,0))) AS DOUBLE) AS s1y,
         CAST(SUM(CAST({_OLS_X2} * {_OLS_Y} AS DECIMAL(38,0))) AS DOUBLE) AS s2y
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n_items,
       round({_OLS_DET0} / {_OLS_DET}, 6) AS beta_intercept_c,
       round({_OLS_DET1} / {_OLS_DET}, 6) AS beta_qty_c,
       round({_OLS_DET2} / {_OLS_DET}, 6) AS beta_disc_permille_c
FROM s
ORDER BY l_returnflag
"""

ROUND9B_QUERIES["ols_cramer_two_feature"] = (q_ols_cramer_two_feature, _OLS_SQL)


# ---------------------------------------------------------------------------
# ndcg_at_k_eval — graded ranking quality with literal integer discounts
# ---------------------------------------------------------------------------

import math as _math

_NDCG_K = 10
#: permicro position discounts round(1e6 / log2(i+1)) for i = 1..K —
#: computed ONCE here and embedded as the same literals in both engines,
#: so no transcendental is ever evaluated cross-engine (the ucb_arm ln
#: lesson, solved one step earlier: constants, not rounding rules).
_NDCG_W = tuple(round(1_000_000 / _math.log2(i + 1)) for i in range(1, _NDCG_K + 1))
#: exponential gain per relevance grade g: 2^g - 1
_NDCG_GAIN = (0, 1, 3, 7)


def q_ndcg_at_k_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of each nation's revenue-ranked brand list against
    graded global relevance (quantity quartile of the brand, grades
    0–3, exponential gain 2^g − 1) — the graded-relevance ranking
    metric the registry's MRR/overlap/gains entries don't cover.

    Everything on the hash path is an INTEGER: the log2 position
    discounts are permicro literals computed once at module load and
    embedded in BOTH plans (no cross-engine transcendental), DCG and
    IDCG are integer dot products, and the final score is permille by
    integer div.  IDCG re-ranks the SAME candidate set by grade, so
    NDCG=1000 means "revenue ranking equals relevance ranking".

    Scale design: grades are a 25-row broadcast panel (quantity
    quartiles over the brand domain); per-nation revenue is one
    combinable aggregation; both rankings are windows partitioned by
    nation (parallel across nations).  At 100 TB the eval panel stays
    nation×brand-bounded.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", cents("l_quantity", 0).alias("qty"),
        cents("l_extendedprice").alias("rev_c"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    wb = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    grades = (
        wb.groupBy("p_brand")
        .agg(F.sum("qty").alias("q"))
        .withColumn(
            "grade",
            (F.ntile(4).over(Window.orderBy(F.asc("q"), F.asc("p_brand"))) - 1),
        )
        .select("p_brand", "grade")
    )
    from etl_portofolio_spark.caching import scoped_persist

    # nation×brand panel persisted: both ranking windows and the final
    # aggregate read it, and its lineage is the full 4-table fact join
    nb = scoped_persist(
        wb.join(orders, wb.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "p_brand")
        .agg(F.sum("rev_c").cast("long").alias("rev"))
        .join(F.broadcast(grades), "p_brand")
    )
    gain = F.element_at(
        F.array(*[F.lit(g) for g in _NDCG_GAIN]), F.col("grade").cast("int") + 1
    ).cast("long")
    warr = F.array(*[F.lit(w) for w in _NDCG_W])
    sys_w = Window.partitionBy("n_name").orderBy(F.desc("rev"), F.asc("p_brand"))
    ideal_w = Window.partitionBy("n_name").orderBy(
        F.desc("grade"), F.asc("p_brand")
    )
    ranked = nb.select(
        "n_name",
        gain.alias("g"),
        F.row_number().over(sys_w).alias("i_sys"),
        F.row_number().over(ideal_w).alias("i_ideal"),
    )
    scored = ranked.groupBy("n_name").agg(
        F.sum(
            F.when(
                F.col("i_sys") <= _NDCG_K,
                F.col("g") * F.element_at(warr, F.col("i_sys")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("dcg"),
        F.sum(
            F.when(
                F.col("i_ideal") <= _NDCG_K,
                F.col("g") * F.element_at(warr, F.col("i_ideal")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("idcg"),
    )
    return scored.select(
        "n_name",
        "dcg",
        "idcg",
        F.expr("(1000 * dcg) div nullif(idcg, 0)").cast("long").alias(
            "ndcg_permille"
        ),
    ).orderBy("n_name")


def _ndcg_sql() -> str:
    w_list = "[" + ", ".join(str(w) for w in _NDCG_W) + "]"
    g_list = "[" + ", ".join(str(g) for g in _NDCG_GAIN) + "]"
    return oracle_bigint(
        f"""
WITH wb AS (
  SELECT l.l_orderkey, p.p_brand,
         CAST(round(l.l_quantity, 0) AS BIGINT) AS qty,
         CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS rev_c
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), grades AS (
  SELECT p_brand,
         NTILE(4) OVER (ORDER BY SUM(qty) ASC, p_brand ASC) - 1 AS grade
  FROM wb GROUP BY p_brand
), nb AS (
  SELECT n.n_name, wb.p_brand, SUM(wb.rev_c) AS rev
  FROM wb
  JOIN orders o ON wb.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, wb.p_brand
), ranked AS (
  SELECT nb.n_name,
         ({g_list})[g.grade + 1] AS g,
         ROW_NUMBER() OVER (PARTITION BY nb.n_name
                            ORDER BY nb.rev DESC, nb.p_brand ASC) AS i_sys,
         ROW_NUMBER() OVER (PARTITION BY nb.n_name
                            ORDER BY g.grade DESC, nb.p_brand ASC) AS i_ideal
  FROM nb JOIN grades g ON nb.p_brand = g.p_brand
), scored AS (
  SELECT n_name,
         SUM(CASE WHEN i_sys <= {_NDCG_K}
                  THEN g * ({w_list})[i_sys] ELSE 0 END) AS dcg,
         SUM(CASE WHEN i_ideal <= {_NDCG_K}
                  THEN g * ({w_list})[i_ideal] ELSE 0 END) AS idcg
  FROM ranked GROUP BY n_name
)
SELECT n_name, dcg, idcg,
       (1000 * dcg) // NULLIF(idcg, 0) AS ndcg_permille
FROM scored ORDER BY n_name
""",
        "dcg",
        "idcg",
        "ndcg_permille",
    )


ROUND9B_QUERIES["ndcg_at_k_eval"] = (q_ndcg_at_k_eval, _ndcg_sql())


# ---------------------------------------------------------------------------
# brier_decomposition — reliability/resolution table over forecast bins
# ---------------------------------------------------------------------------

#: identical per-bin IEEE expression trees over doubles derived ONCE per
#: bounded bin from exact integer counts (the stats_corr_exact rule):
#: f = forecast permille, r = returned count, n = bin count,
#: gr/gn = global returned/line counts.
_BRIER_D = (
    "CAST(f_bin AS DOUBLE)",
    "CAST(n_returned AS DOUBLE)",
    "CAST(n_lines AS DOUBLE)",
    "CAST(g_r AS DOUBLE)",
    "CAST(g_n AS DOUBLE)",
)
_F, _R, _N, _GR, _GN = _BRIER_D
_BRIER_REL = (
    f"round((({_F} / 1000.0) - ({_R} / {_N}))"
    f" * (({_F} / 1000.0) - ({_R} / {_N})) * {_N}, 6)"
)
_BRIER_RES = (
    f"round((({_R} / {_N}) - ({_GR} / {_GN}))"
    f" * (({_R} / {_N}) - ({_GR} / {_GN})) * {_N}, 6)"
)


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for a forecaster that
    states return probability = the line's discount — per forecast
    bin, the RELIABILITY term n_k(f_k − o_k)² (how wrong the stated
    probability is) and the RESOLUTION term n_k(o_k − ō)² (how much
    the bin separates outcomes from the base rate).  This is the
    decomposition behind ``calibration_bins_report``: Σrel/N − Σres/N
    + ō(1−ō) reassembles the full Brier score, and the per-bin table
    is what a forecast model card shows.

    Counts and the observed rate are exact integers (permille by
    ``div``); the two squared terms are doubles evaluated ONCE per
    bin (11 bins) from identical expression trees in both engines,
    rounded to 6 — the ``stats_corr_exact`` discipline.

    Scale design: one fact pass, map-side combinable counts on an
    11-value key; the base rate folds in as a broadcast 1-row frame —
    no driver action, no second scan.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        cents("l_discount", 3).alias("f_bin"),
        (F.col("l_returnflag") == "R").cast("long").alias("is_r"),
    )
    bins = li.groupBy("f_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("is_r").cast("long").alias("n_returned"),
    )
    glob = li.agg(
        F.count(F.lit(1)).cast("long").alias("g_n"),
        F.sum("is_r").cast("long").alias("g_r"),
    )
    return (
        bins.crossJoin(F.broadcast(glob))
        .select(
            "f_bin",
            "n_lines",
            "n_returned",
            F.expr("(1000 * n_returned) div n_lines").cast("long").alias(
                "obs_permille"
            ),
            F.expr(_BRIER_REL).alias("reliability_term"),
            F.expr(_BRIER_RES).alias("resolution_term"),
        )
        .orderBy("f_bin")
    )


_BRIER_SQL = f"""
WITH li AS (
  SELECT CAST(round(l_discount * 1000, 0) AS BIGINT) AS f_bin,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_r
  FROM lineitem
), bins AS (
  SELECT f_bin, COUNT(*) AS n_lines, CAST(SUM(is_r) AS BIGINT) AS n_returned
  FROM li GROUP BY f_bin
), gtot AS (
  SELECT COUNT(*) AS g_n, CAST(SUM(is_r) AS BIGINT) AS g_r FROM li
)
SELECT f_bin, n_lines, n_returned,
       (1000 * n_returned) // n_lines AS obs_permille,
       {_BRIER_REL} AS reliability_term,
       {_BRIER_RES} AS resolution_term
FROM bins CROSS JOIN gtot
ORDER BY f_bin
"""

ROUND9B_QUERIES["brier_decomposition"] = (
    q_brier_decomposition,
    oracle_bigint(_BRIER_SQL, "obs_permille"),
)


# ---------------------------------------------------------------------------
# kneser_ney_continuation — continuation counts behind KN smoothing
# ---------------------------------------------------------------------------

_KN_TOPK = 20


def q_kneser_ney_continuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney continuation probabilities over the corpus bigram
    table — the smoothing statistic the registry's unigram/bigram LM
    entries don't expose: a word's continuation count ``N1+(•w)`` is
    how many DISTINCT left contexts it follows, and
    ``P_cont(w) = N1+(•w) / |distinct bigram types|`` is what replaces
    the raw unigram in KN backoff (so "Francisco" scores low even
    though it is frequent — it follows almost nothing but "San").

    Everything is an integer: continuation counts, the global type
    count (folded in as a broadcast 1-row frame), and the permicro
    probability by ``div``; the top-20 ranking orders by
    (count desc, word) — fully deterministic.

    Scale design: bigrams expand MAP-SIDE per document (zip of the
    token array with its tail — no position self-join); the distinct
    bigram census is one shuffle on the pair key; the continuation
    rollup is combinable on the right word.  The final top-20 runs on
    the vocabulary-bounded panel.
    """
    from pyspark.sql import Window
    from etl_portofolio_spark.operators import text as _text

    docs = load_table(spark, sf_dir, "documents").select(
        _text.tokens("text").alias("t")
    )
    pairs_expr = (
        "transform(slice(t, 1, size(t) - 1), "
        "(x, i) -> struct(x AS w1, element_at(t, i + 2) AS w2))"
    )
    pair_types = (
        docs.where(F.size("t") >= 2)
        .select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.w1", "p.w2")
        .distinct()
    )
    from etl_portofolio_spark.caching import scoped_persist

    cont = scoped_persist(
        pair_types.groupBy(F.col("w2").alias("word")).agg(
            F.count(F.lit(1)).cast("long").alias("cont_count")
        )
    )
    # |bigram types| = Σ_w N1+(•w): derive the denominator from the
    # continuation panel instead of a second tokenize+distinct pass
    # over the corpus (the explain audit showed documents scanned twice)
    total = cont.agg(F.sum("cont_count").cast("long").alias("n_types"))
    w = Window.orderBy(F.desc("cont_count"), F.asc("word"))
    return (
        cont.orderBy(F.desc("cont_count"), F.asc("word"))
        .limit(_KN_TOPK)
        .crossJoin(F.broadcast(total))
        .select(
            "word",
            "cont_count",
            F.expr("(1000000 * cont_count) div n_types").cast("long").alias(
                "p_cont_permicro"
            ),
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .orderBy("rank")
    )


_KN_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"

_KN_SQL = oracle_bigint(
    f"""
WITH arr AS (
  SELECT {_KN_TOKS} AS t FROM documents
), big AS (
  SELECT DISTINCT t[i] AS w1, t[i + 1] AS w2
  FROM arr, LATERAL unnest(generate_series(1, greatest(len(t) - 1, 0))) u(i)
), cont AS (
  SELECT w2 AS word, COUNT(*) AS cont_count FROM big GROUP BY w2
), total AS (
  SELECT COUNT(*) AS n_types FROM big
)
SELECT word, cont_count,
       (1000000 * cont_count) // n_types AS p_cont_permicro,
       ROW_NUMBER() OVER (ORDER BY cont_count DESC, word ASC) AS rank
FROM cont CROSS JOIN total
ORDER BY cont_count DESC, word ASC
LIMIT {_KN_TOPK}
""",
    "cont_count",
    "p_cont_permicro",
    "rank",
)

ROUND9B_QUERIES["kneser_ney_continuation"] = (
    q_kneser_ney_continuation,
    _KN_SQL,
)


# ---------------------------------------------------------------------------
# shard_mixing_entropy — epoch-shuffle quality as per-shard source entropy
# ---------------------------------------------------------------------------

_MIX_SHARDS = 8

#: identical entropy tree: H = ln(n) - (Σ c·round(ln c, 9)) / n, with the
#: per-source term summed EXACTLY as decimal(20,9)·c before the one double
#: division (float sum order never touches the result).
_MIX_H = (
    "round(round(ln(CAST({n} AS DOUBLE)), 9)"
    " - (CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE)), 6)"
)


def q_shard_mixing_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-shuffle quality audit: after hash-assigning documents to
    8 training shards (md5-keyed — the assignment a dataloader's
    shuffle actually uses), how well mixed is each shard's SOURCE
    distribution?  Reported as per-shard source entropy in nats next
    to the global source entropy — a shard whose entropy falls below
    the corpus's is under-mixed and trains with correlated batches.

    Per-source terms ``c·ln(c)`` accumulate EXACTLY (round(ln,9) as
    decimal(20,9), scaled by the integer count) so the sum is
    order-independent at any partitioning; each shard's entropy is
    then ONE double expression, identical in both engines, rounded
    to 6 (the zipf_fit ln discipline).

    Scale design: one map-side md5 + modulo per document, one
    combinable count on the (shard, source) key (8×sources panel),
    global terms fold in as a broadcast 1-row frame.
    """
    from etl_portofolio_spark.functions.hashing import h60

    docs = load_table(spark, sf_dir, "documents").select(
        (h60(F.col("doc_id").cast("string")) % _MIX_SHARDS).alias("shard"),
        "source",
    )
    cell = docs.groupBy("shard", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    lnc = F.round(F.log(F.col("c").cast("double")), 9).cast("decimal(20,9)")
    per_shard = cell.groupBy("shard").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum(F.col("c") * lnc).alias("s_term"),
    )
    src = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("c"))
    glob = src.agg(
        F.sum("c").cast("long").alias("g_n"),
        F.sum(F.col("c") * lnc).alias("g_term"),
    )
    return (
        per_shard.crossJoin(F.broadcast(glob))
        .select(
            "shard",
            "n_docs",
            "n_sources",
            F.expr(_MIX_H.format(n="n_docs", s="s_term")).alias("entropy_nats"),
            F.expr(_MIX_H.format(n="g_n", s="g_term")).alias(
                "global_entropy_nats"
            ),
        )
        .orderBy("shard")
    )


_MIX_SQL = oracle_bigint(
    f"""
WITH docs AS (
  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           % {_MIX_SHARDS} AS shard,
         source
  FROM documents
), cell AS (
  SELECT shard, source, COUNT(*) AS c FROM docs GROUP BY shard, source
), per_shard AS (
  SELECT shard, CAST(SUM(c) AS BIGINT) AS n_docs, COUNT(*) AS n_sources,
         SUM(c * CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(20,9)))
           AS s_term
  FROM cell GROUP BY shard
), src AS (
  SELECT source, COUNT(*) AS c FROM docs GROUP BY source
), gtot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS g_n,
         SUM(c * CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(20,9)))
           AS g_term
  FROM src
)
SELECT shard, n_docs, n_sources,
       {_MIX_H.format(n='n_docs', s='s_term')} AS entropy_nats,
       {_MIX_H.format(n='g_n', s='g_term')} AS global_entropy_nats
FROM per_shard CROSS JOIN gtot
ORDER BY shard
""",
    "n_sources",
)

ROUND9B_QUERIES["shard_mixing_entropy"] = (
    q_shard_mixing_entropy,
    _MIX_SQL,
)


# ---------------------------------------------------------------------------
# orc_sink_roundtrip — the ORC face of the sink, oracle-gated
# ---------------------------------------------------------------------------


def q_orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The columnar-format seam beyond parquet: ``orders`` lands in an
    ORC warehouse partitioned by order year (Spark's native ORC
    writer — same catalog layout contract as the parquet sink), and
    the readback aggregates per year.  The oracle recomputes from the
    source parquet: equal results prove the ORC encode/decode round
    trip is lossless for BIGINT keys, DOUBLE money, VARCHAR enums and
    TIMESTAMP order dates — the four type families the reference's
    tables carry.

    Scale design: the write flows once, partitioned on the year key
    (bounded partition count); the readback is one combinable
    aggregate with partition pruning available on the year column.
    Money crosses the seam as integer cents, so the gate is exact.
    """
    from etl_portofolio_spark.fixtures import ensure_fixture

    def _build(tmp: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        (
            orders.withColumn("o_year", F.year("o_orderdate"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .orc(tmp)
        )
        # the ORC committer in this session layout leaves no _SUCCESS
        # marker (unlike parquet/json); write the completeness marker
        # ensure_fixture's default ready() checks for
        import os

        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    path = ensure_fixture(sf_dir, "orc_roundtrip", _build)
    wh = spark.read.orc(path)
    return (
        wh.groupBy(F.col("o_year").cast("long").alias("o_year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            F.sum(cents("o_totalprice")).cast("long").alias("revenue_c"),
            F.max("o_orderdate").alias("max_orderdate"),
        )
        .orderBy("o_year")
    )


_ORC_SQL = oracle_bigint(
    """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS revenue_c,
       MAX(o_orderdate) AS max_orderdate
FROM orders
GROUP BY 1
ORDER BY o_year
""",
    "revenue_c",
)

ROUND9B_QUERIES["orc_sink_roundtrip"] = (q_orc_sink_roundtrip, _ORC_SQL)


# ---------------------------------------------------------------------------
# jsonl_sink_roundtrip — newline-delimited JSON interchange, oracle-gated
# ---------------------------------------------------------------------------


def q_jsonl_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text-interchange seam: ``events`` exports to JSON Lines
    (timestamps serialized as ISO-8601 strings — the portable wire
    form) and re-ingests through ``spark.read.json`` with an EXPLICIT
    schema (schema inference on JSONL is a full extra scan and a
    type-drift hazard — the engine's rule is schema-on-write).  The
    readback aggregate must match the oracle computed on the source
    parquet: proves double round-tripping (Spark writes shortest
    round-trip decimal), BIGINT ids, and the timestamp string format
    survive the text seam.

    Scale design: export and re-scan are each one map-side pass; the
    gate aggregate is combinable on the 5-value type key.
    """
    from etl_portofolio_spark.fixtures import ensure_fixture

    def _build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_iso"),
            "value",
        ).write.mode("overwrite").json(tmp)

    path = ensure_fixture(sf_dir, "jsonl_roundtrip", _build)
    wh = spark.read.schema(
        "event_id long, user_id long, event_type string, ts_iso string, value double"
    ).json(path)
    return (
        wh.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(cents("value")).cast("long").alias("value_c"),
            F.max("ts_iso").alias("max_ts_iso"),
        )
        .orderBy("event_type")
    )


_JSONL_SQL = oracle_bigint(
    """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       SUM(CAST(round(value * 100, 0) AS BIGINT)) AS value_c,
       MAX(strftime(ts, '%Y-%m-%dT%H:%M:%S')) AS max_ts_iso
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    "value_c",
)

ROUND9B_QUERIES["jsonl_sink_roundtrip"] = (q_jsonl_sink_roundtrip, _JSONL_SQL)


# ---------------------------------------------------------------------------
# class_balance_downsample — deterministic balanced sampling census
# ---------------------------------------------------------------------------


def q_class_balance_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling over the labeled embedding corpus:
    every label keeps exactly ``min(label counts)`` rows, chosen by a
    deterministic md5 priority (content-keyed, so the sample is
    reproducible across runs, engines, and cluster sizes — the
    ``deterministic_sample`` rule applied per class).  The census
    reports, per label, the original count, the kept count (equal
    across labels by construction) and an id checksum proving BOTH
    engines selected the SAME rows, not merely the same number.

    Scale design: one combinable count panel (bounded label domain)
    folds back as a broadcast 1-row min frame; selection is a window
    partitioned BY LABEL over the md5 priority — parallel across
    classes, never a global sort.
    """
    from pyspark.sql import Window
    from etl_portofolio_spark.functions.hashing import h60

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_total"))
    nmin = counts.agg(F.min("n_total").alias("n_keep"))
    w = Window.partitionBy("label").orderBy(
        h60(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc()
    )
    kept = (
        emb.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(nmin))
        .where(F.col("rn") <= F.col("n_keep"))
    )
    return (
        kept.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("vec_id").cast("long").alias("id_checksum"),
        )
        .join(F.broadcast(counts), "label")
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("n_total").cast("long").alias("n_total"),
            "n_kept",
            "id_checksum",
        )
        .orderBy("label")
    )


_CBD_SQL = oracle_bigint(
    """
WITH counts AS (
  SELECT label, COUNT(*) AS n_total FROM embeddings GROUP BY label
), nmin AS (
  SELECT MIN(n_total) AS n_keep FROM counts
), ranked AS (
  SELECT label, vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY label
           ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                         AS BIGINT) ASC, vec_id ASC
         ) AS rn
  FROM embeddings
), kept AS (
  SELECT label, vec_id FROM ranked CROSS JOIN nmin WHERE rn <= n_keep
)
SELECT k.label AS label,
       c.n_total AS n_total,
       COUNT(*) AS n_kept,
       SUM(k.vec_id) AS id_checksum
FROM kept k JOIN counts c ON k.label = c.label
GROUP BY k.label, c.n_total
ORDER BY label
""",
    "label",
    "n_total",
    "n_kept",
    "id_checksum",
)

ROUND9B_QUERIES["class_balance_downsample"] = (
    q_class_balance_downsample,
    _CBD_SQL,
)


# ---------------------------------------------------------------------------
# lead_lag_xcorr — bounded-lag cross-correlation between two brand series
# ---------------------------------------------------------------------------

_XCORR_MAXLAG = 7

#: identical Pearson tree over doubles cast ONCE from decimal(38,0) sums
_XCORR_CORR = (
    "round((n * sxy - sx * sy) / "
    "(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)"
)


def q_lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag detection between the two top-revenue brands: the
    Pearson correlation of their daily revenue series at every shift
    in ±7 days — ``brand_series_correlation_topk`` probes lag 0; this
    is the cross-correlogram that tells you whether one brand's
    demand LEADS the other's (the argmax lag) and by how much.

    Days are integer epoch-day indexes (identical date arithmetic in
    both engines); moment sums per lag accumulate as decimal(38,0)
    over cents (order-independent at any partitioning); each lag's
    correlation is ONE double expression from the shared Pearson tree
    (``stats_corr_exact``), rounded to 6.

    Scale design: the fact table reduces to a (brand, day) panel in
    one combinable pass; the two top-brand series and the 15-lag
    frame are calendar-bounded broadcasts, so the lag join is
    panel×15 — never fact-scale.  At 100 TB nothing after the first
    aggregation grows with data.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01")).alias("d"),
        cents("l_extendedprice").alias("rev_c"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    from etl_portofolio_spark.caching import scoped_persist

    # (brand, day) panel persisted: the top-2 election and BOTH series
    # extractions read it — unpersisted, the fact join replayed 3×.
    # spread_by(d): parallelize the one-row-group test scan's probe +
    # partial aggregation; hash(d) satisfies the (brand, d) clustering,
    # so the groupBy adds no second exchange (no-op at production
    # split counts)
    from etl_portofolio_spark.operators.util import spread_by

    brandday = scoped_persist(
        spread_by(li, "d")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "d")
        .agg(F.sum("rev_c").cast("long").alias("rev"))
    )
    rk = Window.orderBy(F.desc("tot"), F.asc("p_brand"))
    top2 = (
        brandday.groupBy("p_brand")
        .agg(F.sum("rev").alias("tot"))
        .withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") <= 2)
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("p_brand"))).alias("bx"),
            F.max(F.when(F.col("rk") == 2, F.col("p_brand"))).alias("by"),
        )
    )
    a = brandday.join(
        F.broadcast(top2), brandday.p_brand == top2.bx
    ).select(F.col("d").alias("da"), F.col("rev").alias("x"))
    b = brandday.join(
        F.broadcast(top2), brandday.p_brand == top2.by
    ).select(F.col("d").alias("db"), F.col("rev").alias("y"))
    lags = top2.select(
        F.explode(
            F.sequence(F.lit(-_XCORR_MAXLAG), F.lit(_XCORR_MAXLAG))
        ).alias("lag")
    )
    # cast-before-multiply: daily-revenue cents reach ~3e10 at the 100x
    # corpus, so x*y in BIGINT overflows (~9e20 > 2^63) — the 100x curve
    # run caught this LOUDLY under ANSI (round 10). decimal(19,0)
    # operands multiply into decimal(38,0) with no truncation.
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    sums = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("da") + F.col("lag") == F.col("db"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(dec(F.col("x"))).alias("__sx"),
            F.sum(dec(F.col("y"))).alias("__sy"),
            F.sum(dec(d19(F.col("x")) * d19(F.col("y")))).alias("__sxy"),
            F.sum(dec(d19(F.col("x")) * d19(F.col("x")))).alias("__sxx"),
            F.sum(dec(d19(F.col("y")) * d19(F.col("y")))).alias("__syy"),
        )
    )
    doubles = sums.select(
        F.col("lag").cast("long").alias("lag"),
        "n_days",
        F.col("n_days").cast("double").alias("n"),
        F.col("__sx").cast("double").alias("sx"),
        F.col("__sy").cast("double").alias("sy"),
        F.col("__sxy").cast("double").alias("sxy"),
        F.col("__sxx").cast("double").alias("sxx"),
        F.col("__syy").cast("double").alias("syy"),
    )
    return doubles.select(
        "lag", "n_days", F.expr(_XCORR_CORR).alias("corr_xy")
    ).orderBy("lag")


_XCORR_SQL = f"""
WITH brandday AS (
  SELECT p.p_brand,
         DATEDIFF('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE)) AS d,
         CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand, DATEDIFF('day', DATE '1970-01-01',
                               CAST(l.l_shipdate AS DATE))
), top2 AS (
  SELECT MAX(CASE WHEN rk = 1 THEN p_brand END) AS bx,
         MAX(CASE WHEN rk = 2 THEN p_brand END) AS by
  FROM (
    SELECT p_brand,
           ROW_NUMBER() OVER (ORDER BY SUM(rev) DESC, p_brand ASC) AS rk
    FROM brandday GROUP BY p_brand
  ) WHERE rk <= 2
), a AS (
  SELECT bd.d AS da, bd.rev AS x FROM brandday bd JOIN top2 t
  ON bd.p_brand = t.bx
), b AS (
  SELECT bd.d AS db, bd.rev AS y FROM brandday bd JOIN top2 t
  ON bd.p_brand = t.by
), lags AS (
  SELECT CAST(u.lag AS BIGINT) AS lag
  FROM unnest(generate_series(-{_XCORR_MAXLAG}, {_XCORR_MAXLAG})) u(lag)
), sums AS (
  SELECT lags.lag, COUNT(*) AS n_days,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
                       AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
                       AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
                       AS DECIMAL(38,0))) AS DOUBLE) AS syy
  FROM a CROSS JOIN lags JOIN b ON a.da + lags.lag = b.db
  GROUP BY lags.lag
)
SELECT lag, n_days, {_XCORR_CORR} AS corr_xy
FROM sums ORDER BY lag
"""

ROUND9B_QUERIES["lead_lag_xcorr"] = (
    q_lead_lag_xcorr,
    oracle_bigint(_XCORR_SQL, "n_days"),
)


# ---------------------------------------------------------------------------
# hll_intersection_estimate — sketch-algebra set intersection, audited
# ---------------------------------------------------------------------------

_HLLI_M = 64
#: alpha_64 = 0.7213 / (1 + 1.079/64), embedded as the same literal in
#: both engines (an estimator constant, not a correctness input)
_HLLI_ALPHA = 0.709362
#: identical estimator tree: E = alpha * m^2 / sum(2^-M_j); every term
#: 0.5/t is an exact dyadic double (t a power of two), so the SUM is
#: exact and order-independent — no float-order hazard anywhere.
_HLLI_EST_INNER = "{a} * {m}.0 * {m}.0 / {s}"
_HLLI_EST = "round(" + _HLLI_EST_INNER + ", 6)"


def q_hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch algebra on top of ``hll_register_sketch``: HyperLogLog
    estimates for the URGENT-priority customer set, the HIGH-priority
    set, their register-wise-max UNION sketch, and the
    inclusion–exclusion INTERSECTION estimate — next to the exact
    counts, so the row is its own error report.  This is the 100 TB
    audience-overlap operation: two 64-register sketches cross the
    wire instead of two customer sets.

    Every register term ``2^-M`` is an exact dyadic double (0.5/t
    with t = max lowest-set-bit, a power of two), so the harmonic
    sums are EXACT and order-independent; the three estimator
    evaluations share one expression tree with literal alpha.  The
    64-register spine is densified (empty register → 2^0 = 1) in both
    engines.

    Scale design: one pass over orders builds per-customer membership
    flags (combinable); registers aggregate on a 64-value uniform md5
    key; everything after is a 64-row panel cross-joined into one row.
    """
    from etl_portofolio_spark.caching import scoped_persist
    from etl_portofolio_spark.functions.hashing import h32

    orders = load_table(spark, sf_dir, "orders")
    # membership flags persisted: the register build and the exact
    # census both read them — one pass over orders instead of two
    keys = scoped_persist(
        orders.groupBy("o_custkey")
        .agg(
            F.max((F.col("o_orderpriority") == "1-URGENT").cast("int")).alias(
                "in_a"
            ),
            F.max((F.col("o_orderpriority") == "2-HIGH").cast("int")).alias(
                "in_b"
            ),
        )
        .where((F.col("in_a") == 1) | (F.col("in_b") == 1))
    )
    ck = F.col("o_custkey").cast("string")
    hashed = keys.select(
        "in_a",
        "in_b",
        (h32(F.concat(F.lit("hllreg:"), ck)) % F.lit(_HLLI_M)).alias("register"),
        h32(F.concat(F.lit("hllrho:"), ck)).alias("__h"),
    ).select(
        "in_a", "in_b", "register", F.expr("__h & -__h").alias("t")
    )
    regs = hashed.groupBy("register").agg(
        F.max(F.when(F.col("in_a") == 1, F.col("t"))).alias("ta"),
        F.max(F.when(F.col("in_b") == 1, F.col("t"))).alias("tb"),
        F.max("t").alias("tu"),
    )
    # 64-register spine from spark.range — constant-size, no lineage
    # back to orders (a keys.agg spine replayed the fact scan)
    spine = (
        spark.range(_HLLI_M)
        .select(F.col("id").cast("long").alias("register"))
        .join(regs, "register", "left")
    )
    term = lambda c: F.when(  # noqa: E731
        F.col(c).isNull(), F.lit(1.0)
    ).otherwise(F.lit(0.5) / F.col(c).cast("double"))
    sums = spine.agg(
        F.sum(term("ta")).alias("s_a"),
        F.sum(term("tb")).alias("s_b"),
        F.sum(term("tu")).alias("s_u"),
    )
    exact = keys.agg(
        F.sum("in_a").cast("long").alias("n_a_exact"),
        F.sum("in_b").cast("long").alias("n_b_exact"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both_exact"),
    )
    est = lambda s: F.expr(  # noqa: E731
        _HLLI_EST.format(a=_HLLI_ALPHA, m=_HLLI_M, s=s)
    )
    return exact.crossJoin(F.broadcast(sums)).select(
        "n_a_exact",
        "n_b_exact",
        "n_both_exact",
        est("s_a").alias("est_a"),
        est("s_b").alias("est_b"),
        est("s_u").alias("est_union"),
        F.expr(
            "round("
            + _HLLI_EST_INNER.format(a=_HLLI_ALPHA, m=_HLLI_M, s="s_a")
            + " + "
            + _HLLI_EST_INNER.format(a=_HLLI_ALPHA, m=_HLLI_M, s="s_b")
            + " - "
            + _HLLI_EST_INNER.format(a=_HLLI_ALPHA, m=_HLLI_M, s="s_u")
            + ", 6)"
        ).alias("est_intersection"),
    )


def _hlli_sql() -> str:
    from etl_portofolio_spark.functions.hashing import h32_sql

    reg = h32_sql("'hllreg:' || CAST(o_custkey AS VARCHAR)")
    rho = h32_sql("'hllrho:' || CAST(o_custkey AS VARCHAR)")
    e = lambda s: _HLLI_EST.format(a=_HLLI_ALPHA, m=_HLLI_M, s=s)  # noqa: E731
    inner = lambda s: _HLLI_EST_INNER.format(  # noqa: E731
        a=_HLLI_ALPHA, m=_HLLI_M, s=s
    )
    return f"""
WITH keys AS (
  SELECT o_custkey,
         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS in_b
  FROM orders GROUP BY o_custkey
  HAVING MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) = 1
      OR MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) = 1
), hashed AS (
  SELECT in_a, in_b,
         {reg} % {_HLLI_M} AS register,
         (h & (-h)) AS t
  FROM (SELECT in_a, in_b, o_custkey, {rho} AS h FROM keys)
), regs AS (
  SELECT register,
         MAX(CASE WHEN in_a = 1 THEN t END) AS ta,
         MAX(CASE WHEN in_b = 1 THEN t END) AS tb,
         MAX(t) AS tu
  FROM hashed GROUP BY register
), spine AS (
  SELECT u.r AS register, regs.ta, regs.tb, regs.tu
  FROM unnest(generate_series(0, {_HLLI_M - 1})) u(r)
  LEFT JOIN regs ON regs.register = u.r
), sums AS (
  SELECT SUM(CASE WHEN ta IS NULL THEN 1.0 ELSE 0.5 / CAST(ta AS DOUBLE) END) AS s_a,
         SUM(CASE WHEN tb IS NULL THEN 1.0 ELSE 0.5 / CAST(tb AS DOUBLE) END) AS s_b,
         SUM(CASE WHEN tu IS NULL THEN 1.0 ELSE 0.5 / CAST(tu AS DOUBLE) END) AS s_u
  FROM spine
), exact AS (
  SELECT CAST(SUM(in_a) AS BIGINT) AS n_a_exact,
         CAST(SUM(in_b) AS BIGINT) AS n_b_exact,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both_exact
  FROM keys
)
SELECT n_a_exact, n_b_exact, n_both_exact,
       {e("s_a")} AS est_a,
       {e("s_b")} AS est_b,
       {e("s_u")} AS est_union,
       round({inner("s_a")} + {inner("s_b")} - {inner("s_u")}, 6)
         AS est_intersection
FROM exact CROSS JOIN sums
"""


ROUND9B_QUERIES["hll_intersection_estimate"] = (
    q_hll_intersection_estimate,
    _hlli_sql(),
)
