"""Round-9d query wave — engine- and pipeline-mechanics capabilities
still absent from the registry: a Count-Min sketch audited against
exact counts (the point-query twin of the registry's Misra-Gries /
KMV / HLL sketch family), sorted-neighborhood blocking for dedup (the
classic windowed-sort complement to LSH banding), a positional
inverted index answering a phrase query, OHLC time-series downsampling
(the hypertable-rollup shape), a Structured Streaming
kill-and-resume exactly-once gate, dictionary-vs-plain column
encoding economics, leakage-safe walk-forward CV folds, and a grace
hash join spill planner.

Each entry: name -> (builder(spark, sf_dir) -> DataFrame, DuckDB oracle
SQL).  Determinism contract as the other waves: integer arithmetic on
every filter/rank/hash-path value (cents, permille-by-div, md5-based
``h32``/``h60`` hashes); no floats anywhere in this wave's outputs.

Scale theme: PLANNED BOUNDEDNESS.  The sketch is a fixed d x w counter
matrix however large the stream; sorted-neighborhood shuffles once on
a static range split and exchanges only O(partitions) boundary rows;
the phrase match filters both join sides down to one token each before
the positional join; the encoding/fanout audits reduce to one
value-keyed combinable pass; the CV folds and OHLC panels are
calendar-bounded.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.functions.hashing import h32, h32_sql
from etl_portofolio_spark.plans.analytics_queries import cents
from etl_portofolio_spark.plans.oracle_types import oracle_bigint

ROUND9D_QUERIES: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {}


# ---------------------------------------------------------------------------
# countmin_point_estimates — Count-Min sketch vs exact counts
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 256
_CMS_TOPK = 20


def q_countmin_point_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries audited against exact counts:
    a ``d=4 x w=256`` counter matrix over ``orders.o_custkey``
    (counter[i][slot] = rows whose i-th salted md5 hash lands in the
    slot), point estimate = min over the 4 depths, reported for the 20
    highest-frequency keys NEXT TO their exact counts — the
    estimate-beside-truth discipline of ``kmv_distinct_sketch`` and
    ``hll_intersection_estimate``.  The CMS one-sided guarantee
    (estimate >= truth, overshoot ~ N/w per depth before the min) is
    directly visible in the emitted ``over_permille``, and ``bound_ok``
    checks the textbook e/w error bound ((est - n) * w <= 3N) — both
    deterministic given the data, since both engines compute the very
    same md5 slots.  Width is deliberately small relative to the key
    domain so the audit MEASURES the collision overshoot instead of
    hiding it.

    Scale design: the sketch state is 4,096 counters REGARDLESS of
    stream size — the map-side explode by depth feeds a combinable
    groupBy with at most d*w groups, so the shuffle carries bounded
    state at any scale (the same reason Misra-Gries beats the full
    groupBy in ``heavy_hitters_sketch``).  The probe side is a 20-row
    broadcast against the 4,096-row sketch.
    """
    from etl_portofolio_spark.operators.util import spread

    # round-robin spread: the 4-way depth explode + salted md5 per
    # (depth, key) — the query's dominant per-row work — otherwise
    # serializes on the one-row-group test scan's single task; the one
    # narrow exchange is shared by the exact and sketch branches
    # (no-op at production split counts). Measured a tie at 32 cores
    # and a win at 8.
    orders = spread(load_table(spark, sf_dir, "orders").select("o_custkey"))

    exact = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    top = exact.orderBy(F.desc("n_exact"), "o_custkey").limit(_CMS_TOPK)

    depths = F.explode(
        F.array(*[F.lit(d) for d in range(_CMS_DEPTH)])
    ).alias("depth")
    slot = (
        h32(
            F.concat_ws(
                ":",
                F.col("depth").cast("string"),
                F.col("o_custkey").cast("string"),
            )
        )
        % F.lit(_CMS_WIDTH)
    )
    sketch = (
        orders.select("o_custkey", depths)
        .select("depth", slot.alias("slot"))
        .groupBy("depth", "slot")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )

    probes = top.select("o_custkey", "n_exact", depths).select(
        "o_custkey", "n_exact", "depth", slot.alias("slot")
    )
    total = orders.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        probes.join(F.broadcast(sketch), ["depth", "slot"])
        .groupBy("o_custkey", "n_exact")
        .agg(F.min("c").cast("long").alias("cms_estimate"))
        .crossJoin(F.broadcast(total))
        .select(
            "o_custkey",
            "n_exact",
            "cms_estimate",
            F.expr(
                "CAST((cms_estimate - n_exact) * 1000 DIV n_exact AS BIGINT)"
            ).alias("over_permille"),
            F.expr(
                f"CAST((cms_estimate - n_exact) * {_CMS_WIDTH} "
                "<= 3 * n_total AS BIGINT)"
            ).alias("bound_ok"),
        )
        .orderBy(F.desc("n_exact"), "o_custkey")
    )


_CMS_HASH = h32_sql(
    "CAST(d.depth AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)"
)

_CMS_SQL = f"""
WITH exact AS (
  SELECT o_custkey, COUNT(*) AS n_exact FROM orders GROUP BY 1
), top AS (
  SELECT * FROM exact ORDER BY n_exact DESC, o_custkey LIMIT {_CMS_TOPK}
), sketch AS (
  SELECT d.depth, {_CMS_HASH} % {_CMS_WIDTH} AS slot, COUNT(*) AS c
  FROM orders, range({_CMS_DEPTH}) d(depth)
  GROUP BY 1, 2
), probes AS (
  SELECT o_custkey, n_exact, d.depth,
         {_CMS_HASH} % {_CMS_WIDTH} AS slot
  FROM top, range({_CMS_DEPTH}) d(depth)
)
SELECT p.o_custkey,
       CAST(p.n_exact AS BIGINT) AS n_exact,
       CAST(MIN(s.c) AS BIGINT) AS cms_estimate,
       CAST((MIN(s.c) - p.n_exact) * 1000 // p.n_exact AS BIGINT)
         AS over_permille,
       CAST((MIN(s.c) - p.n_exact) * {_CMS_WIDTH}
            <= 3 * (SELECT COUNT(*) FROM orders) AS BIGINT) AS bound_ok
FROM probes p JOIN sketch s ON p.depth = s.depth AND p.slot = s.slot
GROUP BY p.o_custkey, p.n_exact
ORDER BY n_exact DESC, o_custkey
"""

ROUND9D_QUERIES["countmin_point_estimates"] = (
    q_countmin_point_estimates,
    _CMS_SQL,
)


# ---------------------------------------------------------------------------
# dedup_sorted_neighborhood — windowed-sort blocking, boundary-stitched
# ---------------------------------------------------------------------------

_SN_WINDOW = 2  # pair each doc with its next 2 neighbors in sort order
_SN_JACCARD_PERMILLE = 600


def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo's classic
    merge/purge method), the windowed-sort complement to the
    registry's LSH banding: documents sort by a 24-char text prefix,
    each doc pairs with its next 2 neighbors in that order, and pairs
    verify by exact token-set Jaccard >= 600 permille.

    The implementation is the DISTRIBUTED form, not the single-sort
    form: a static range split on the prefix (4 contiguous key ranges)
    lets the neighbor window run partition-parallel, and the only
    cross-partition work is a bounded boundary exchange — the first 2
    and last 2 rows of every range (<= 4 rows per boundary) are
    re-windowed globally, keeping only cross-range pairs.  Every
    global pair at sort distance <= 2 either lies inside one range
    (local lead) or has all its intervening rows inside the exchanged
    boundary set (stitch lead) — the pair set is EXACTLY the oracle's
    single global window, which is what the gate checks.

    Scale design: one range-keyed shuffle of the corpus + O(ranges)
    boundary rows; the Jaccard verify runs only on the ~2N candidate
    pairs, never corpus-quadratic.  At 100 TB the static 4-way split
    becomes repartitionByRange with sampled bounds; the stitch logic
    is unchanged.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 24).alias("pfx"),
        F.array_distinct(F.split("text", " ")).alias("toks"),
    )
    # Static contiguous ranges on the sort key: correctness needs only
    # contiguity (any split yields the same stitched pair set); balance
    # is a perf knob. The fixture corpus opens with lowercase words.
    rng = (
        F.when(F.col("pfx") < "f", 0)
        .when(F.col("pfx") < "m", 1)
        .when(F.col("pfx") < "s", 2)
        .otherwise(3)
    )
    tagged = docs.withColumn("rng", rng)

    wp = Window.partitionBy("rng").orderBy("pfx", "doc_id")

    def _lead_pairs(df: DataFrame, w: Window, cross_only: bool) -> DataFrame:
        # Both lead offsets in ONE projection: Spark collapses them
        # into a single Window node, so the corpus sorts once, not
        # once per offset.  The candidate structs then explode
        # map-side.
        led = df.select(
            F.col("doc_id").alias("doc_a"),
            F.col("toks").alias("toks_a"),
            F.col("rng").alias("rng_a"),
            *[
                F.struct(
                    F.lead("doc_id", off).over(w).alias("doc_b"),
                    F.lead("toks", off).over(w).alias("toks_b"),
                    F.lead("rng", off).over(w).alias("rng_b"),
                ).alias(f"nb{off}")
                for off in range(1, _SN_WINDOW + 1)
            ],
        ).select(
            "doc_a",
            "toks_a",
            "rng_a",
            F.explode(
                F.array(*[f"nb{off}" for off in range(1, _SN_WINDOW + 1)])
            ).alias("nb"),
        ).select(
            "doc_a", "toks_a", "rng_a", "nb.doc_b", "nb.toks_b", "nb.rng_b"
        )
        p = led.where(F.col("doc_b").isNotNull())
        if cross_only:
            p = p.where(F.col("rng_a") != F.col("rng_b"))
        return p

    local_pairs = _lead_pairs(tagged, wp, cross_only=False)

    # Boundary exchange: first/last _SN_WINDOW rows of each range —
    # O(ranges) rows, a bounded metadata frame, so the global window
    # over it is legal at any scale.
    counted = tagged.select(
        "doc_id",
        "pfx",
        "toks",
        "rng",
        F.row_number().over(wp).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("rng")).alias("pc"),
    )
    boundary = counted.where(
        (F.col("rn") <= _SN_WINDOW) | (F.col("rn") > F.col("pc") - _SN_WINDOW)
    ).select("doc_id", "pfx", "toks", "rng")
    wb = Window.orderBy("pfx", "doc_id")
    stitch_pairs = _lead_pairs(boundary, wb, cross_only=True)

    pairs = local_pairs.unionByName(stitch_pairs)
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(size(array_intersect(toks_a, toks_b)) * 1000 "
                "DIV size(array_union(toks_a, toks_b)) AS BIGINT)"
            ).alias("jac_permille"),
        )
        .where(F.col("jac_permille") >= _SN_JACCARD_PERMILLE)
        .orderBy("doc_a", "doc_b")
    )


_SN_SQL = f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, 24) AS pfx,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
), o AS (
  SELECT doc_id, toks,
         lead(doc_id, 1) OVER w AS d1, lead(toks, 1) OVER w AS t1,
         lead(doc_id, 2) OVER w AS d2, lead(toks, 2) OVER w AS t2
  FROM d WINDOW w AS (ORDER BY pfx, doc_id)
), p AS (
  SELECT doc_id AS doc_a, d1 AS doc_b, toks AS toks_a, t1 AS toks_b
  FROM o WHERE d1 IS NOT NULL
  UNION ALL
  SELECT doc_id, d2, toks, t2 FROM o WHERE d2 IS NOT NULL
), j AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(toks_a, toks_b)) * 1000
              // len(list_distinct(list_concat(toks_a, toks_b))) AS BIGINT)
           AS jac_permille
  FROM p
)
SELECT doc_a, doc_b, jac_permille
FROM j WHERE jac_permille >= {_SN_JACCARD_PERMILLE}
ORDER BY doc_a, doc_b
"""

ROUND9D_QUERIES["dedup_sorted_neighborhood"] = (
    q_dedup_sorted_neighborhood,
    _SN_SQL,
)


# ---------------------------------------------------------------------------
# phrase_match_positions — positional inverted index, phrase query
# ---------------------------------------------------------------------------

_PHRASE_TOPK = 20


def q_phrase_match_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search over a positional inverted index: the corpus
    explodes into (doc, position, token) postings, the corpus's most
    frequent bigram is selected in-plan (count desc, then lexicographic
    — a total order), and its occurrences are found by the classic
    positional-index join: postings for word1 meet postings for word2
    on (doc, pos+1).  Emits the top 20 docs by match count.

    Scale design: postings are a map-side explode; the bigram census
    is one pair-key combinable shuffle; the phrase join first filters
    EACH side to a single token (broadcast of the 1-row phrase frame),
    so the positional self-join input is the phrase words' posting
    lists alone — exactly how a search engine intersects posting
    lists, never the full postings self-join.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("arr")
    )
    post = docs.select(
        "doc_id", F.posexplode("arr").alias("pos", "tok")
    )
    bigrams = docs.select(
        F.explode(
            F.expr(
                "transform(slice(arr, 1, size(arr) - 1), "
                "(x, i) -> struct(x AS w1, arr[i + 1] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    top = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(1)
        .select("w1", "w2")
    )
    lhs = post.join(F.broadcast(top), post["tok"] == F.col("w1")).select(
        "doc_id", "pos", "w1", "w2"
    )
    rhs = post.select(
        F.col("doc_id").alias("r_doc"),
        F.col("pos").alias("r_pos"),
        F.col("tok").alias("r_tok"),
    )
    return (
        lhs.join(
            rhs,
            (F.col("doc_id") == F.col("r_doc"))
            & (F.col("r_pos") == F.col("pos") + 1)
            & (F.col("r_tok") == F.col("w2")),
        )
        .groupBy("doc_id", F.concat_ws(" ", "w1", "w2").alias("phrase"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
        .orderBy(F.desc("n_matches"), "doc_id")
        .limit(_PHRASE_TOPK)
    )


_PHRASE_SQL = f"""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
), post AS (
  SELECT doc_id,
         unnest(generate_series(1, len(arr))) AS pos,
         unnest(arr) AS tok
  FROM docs
), big AS (
  SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS n
  FROM post a JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
), top AS (
  SELECT w1, w2 FROM big ORDER BY n DESC, w1, w2 LIMIT 1
)
SELECT p1.doc_id, t.w1 || ' ' || t.w2 AS phrase,
       CAST(COUNT(*) AS BIGINT) AS n_matches
FROM post p1
JOIN top t ON p1.tok = t.w1
JOIN post p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
            AND p2.tok = t.w2
GROUP BY 1, 2
ORDER BY n_matches DESC, p1.doc_id
LIMIT {_PHRASE_TOPK}
"""

ROUND9D_QUERIES["phrase_match_positions"] = (
    q_phrase_match_positions,
    _PHRASE_SQL,
)


# ---------------------------------------------------------------------------
# ohlc_downsample — hypertable-style OHLC rollup
# ---------------------------------------------------------------------------


def q_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to daily OHLC bars (the hypertable /
    TSDB continuous-aggregate shape): per day over purchase events,
    open = value at the earliest (ts, event_id), close = at the
    latest, high/low = max/min, plus volume and turnover — all integer
    cents.

    First/last are ``min_by``/``max_by`` on a LEXICOGRAPHIC order key
    (``yyyyMMddHHmmssSSSSSS || '-' || zero-padded event_id``): a total
    order even under timestamp collisions, so neither engine's
    arg-min tie-break is ever exercised — the r5 lesson that
    nondeterministic first/last can never sit on a hash path.

    Scale design: one combinable aggregate — min_by/max_by carry one
    candidate per partition per group (no sort, no window over the
    fact stream), the exact shape a 100 TB tick table needs.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    okey = F.concat_ws(
        "-",
        F.date_format("ts", "yyyyMMddHHmmssSSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    ev = ev.select(
        F.to_date("ts").alias("day"),
        cents("value").alias("v_c"),
        okey.alias("okey"),
    )
    return (
        ev.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.min_by("v_c", "okey").cast("long").alias("open_c"),
            F.max("v_c").cast("long").alias("high_c"),
            F.min("v_c").cast("long").alias("low_c"),
            F.max_by("v_c", "okey").cast("long").alias("close_c"),
            F.sum("v_c").cast("long").alias("total_c"),
        )
        .orderBy("day")
    )


_OHLC_SQL = oracle_bigint(
    """
WITH t AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(round(value * 100, 0) AS BIGINT) AS v_c,
         strftime(ts, '%Y%m%d%H%M%S%f') || '-' ||
           lpad(CAST(event_id AS VARCHAR), 12, '0') AS okey
  FROM events WHERE event_type = 'purchase'
)
SELECT day,
       COUNT(*) AS n_trades,
       arg_min(v_c, okey) AS open_c,
       MAX(v_c) AS high_c,
       MIN(v_c) AS low_c,
       arg_max(v_c, okey) AS close_c,
       SUM(v_c) AS total_c
FROM t GROUP BY 1 ORDER BY day
""",
    "total_c",
)

ROUND9D_QUERIES["ohlc_downsample"] = (q_ohlc_downsample, _OHLC_SQL)


# ---------------------------------------------------------------------------
# checkpoint_resume_equivalence — streaming kill-and-resume, exactly-once
# ---------------------------------------------------------------------------


def q_checkpoint_resume_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming's exactly-once RESUME contract under the
    oracle gate: the events table lands as two time-ranged files; a
    file-source stream with a parquet sink + checkpoint consumes file
    1 and STOPS (availableNow drains and terminates — the planned-kill
    shape); file 2 then arrives and a brand-new query with the SAME
    checkpoint resumes.  If the checkpoint failed to record progress
    the resumed pass would re-emit file 1's rows (duplicates); if
    resume mis-planned it would skip file 2 (missing rows).  The
    oracle recomputes the daily panel from the source table — equality
    proves each row crossed the sink exactly once across the restart.

    This is the recovery half of the streaming story the four
    streaming_*_oracle gates don't cover: they each run one
    uninterrupted query; production backfills restart.

    Scale design: the two passes ARE production availableNow catch-up
    runs; state is the file-source log + file-sink manifest, both
    O(files).  The expensive double-run builds once into a
    content-keyed fixture; the gated readback is one combinable
    aggregate.
    """
    from etl_portofolio_spark.fixtures import ensure_fixture

    def _build(tmp: str) -> None:
        import glob as _glob
        import shutil as _shutil

        staged = os.path.join(tmp, "all")
        src = os.path.join(tmp, "src")
        sink = os.path.join(tmp, "sink")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(src)
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        (
            ev.repartitionByRange(2, F.col("ts"))
            .sortWithinPartitions("ts")
            .write.parquet(staged)
        )
        files = sorted(_glob.glob(os.path.join(staged, "part-*.parquet")))
        assert len(files) == 2, f"expected 2 ranged files, got {files}"

        def _run_pass() -> None:
            stream = (
                spark.readStream.schema(
                    "event_id bigint, ts timestamp, "
                    "event_type string, value double"
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            out = stream.select(
                "event_id",
                F.to_date("ts").alias("day"),
                "event_type",
                cents("value").alias("v_c"),
            )
            q = (
                out.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _shutil.copy(files[0], os.path.join(src, os.path.basename(files[0])))
        _run_pass()
        _shutil.copy(files[1], os.path.join(src, os.path.basename(files[1])))
        _run_pass()  # resume: the checkpoint must skip file 1, take file 2
        # The file-sink metadata log and the checkpoint both pin
        # absolute paths, which the fixture's atomic rename would
        # invalidate — drop them; the batch reader lists sink/ plainly.
        _shutil.rmtree(os.path.join(sink, "_spark_metadata"))
        _shutil.rmtree(ckpt)
        _shutil.rmtree(staged)
        _shutil.rmtree(src)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    path = ensure_fixture(sf_dir, "ckpt_resume_sink", _build)
    rows = spark.read.parquet(os.path.join(path, "sink"))
    return (
        rows.groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("v_c").cast("long").alias("value_cents"),
        )
        .orderBy("day", "event_type")
    )


_CKPT_SQL = oracle_bigint(
    """
SELECT CAST(ts AS DATE) AS day, event_type,
       COUNT(*) AS n_events,
       SUM(CAST(round(value * 100, 0) AS BIGINT)) AS value_cents
FROM events GROUP BY 1, 2 ORDER BY day, event_type
""",
    "value_cents",
)

ROUND9D_QUERIES["checkpoint_resume_equivalence"] = (
    q_checkpoint_resume_equivalence,
    _CKPT_SQL,
)


# ---------------------------------------------------------------------------
# encoding_size_estimate — dictionary-vs-plain column encoding economics
# ---------------------------------------------------------------------------

_ENC_PART_COLS = ("p_name", "p_brand", "p_type")
_ENC_ORDER_COLS = ("o_orderstatus", "o_orderpriority")


def q_encoding_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding economics per string column (``part``'s
    name/brand/type and ``orders``'s status/priority): plain size (sum
    of value bytes) vs dictionary size (distinct-value bytes +
    bit-packed indexes at ceil(log2(ndv)) bits/row), choosing the
    winner and its savings permille — the decision a parquet/ORC
    writer makes per column chunk, surfaced as an audit
    (low-cardinality enums dictionary-encode at >900 permille savings;
    near-unique part names stay plain).

    ceil(log2(ndv)) is computed as ``length(bin(ndv - 1))`` — pure
    integer, identical in both engines (the transcendental-free rule).

    Scale design: ONE scan per table reading exactly the audited
    columns (stack/unpivot is map-side), then one combinable shuffle
    keyed (column, value) whose post-aggregation state is the
    dictionary itself — the same state the real encoder would build.
    """

    def _stack(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
        args = ", ".join(f"'{c}', {c}" for c in cols)
        return df.selectExpr(f"stack({len(cols)}, {args}) AS (col_name, v)")

    stacked = _stack(
        load_table(spark, sf_dir, "part"), _ENC_PART_COLS
    ).unionByName(
        _stack(load_table(spark, sf_dir, "orders"), _ENC_ORDER_COLS)
    )
    per_val = stacked.groupBy("col_name", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    prof = per_val.groupBy("col_name").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("ndv"),
        F.sum(F.octet_length("v")).cast("long").alias("dict_value_bytes"),
        F.sum(F.col("n") * F.octet_length("v")).cast("long").alias(
            "plain_bytes"
        ),
    )
    bit_width = F.when(F.col("ndv") <= 1, F.lit(1)).otherwise(
        F.length(F.bin(F.col("ndv") - 1))
    )
    withw = prof.withColumn("bit_width", bit_width.cast("long")).withColumn(
        "dict_bytes",
        (
            F.col("dict_value_bytes")
            + F.expr("(n_rows * bit_width + 7) DIV 8")
        ).cast("long"),
    )
    return withw.select(
        "col_name",
        "n_rows",
        "ndv",
        "bit_width",
        "plain_bytes",
        "dict_bytes",
        F.when(F.col("dict_bytes") < F.col("plain_bytes"), "dict")
        .otherwise("plain")
        .alias("best_encoding"),
        F.expr(
            "CAST((plain_bytes - least(plain_bytes, dict_bytes)) * 1000 "
            "DIV plain_bytes AS BIGINT)"
        ).alias("savings_permille"),
    ).orderBy("col_name")


_ENC_UNION = "\nUNION ALL\n".join(
    [
        f"SELECT '{c}' AS col_name, {c} AS v FROM part"
        for c in _ENC_PART_COLS
    ]
    + [
        f"SELECT '{c}' AS col_name, {c} AS v FROM orders"
        for c in _ENC_ORDER_COLS
    ]
)

_ENC_SQL = f"""
WITH stacked AS (
{_ENC_UNION}
), per_val AS (
  SELECT col_name, v, COUNT(*) AS n FROM stacked GROUP BY 1, 2
), prof AS (
  SELECT col_name,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS ndv,
         CAST(SUM(strlen(v)) AS BIGINT) AS dict_value_bytes,
         CAST(SUM(n * strlen(v)) AS BIGINT) AS plain_bytes
  FROM per_val GROUP BY 1
), w AS (
  SELECT *,
         CAST(CASE WHEN ndv <= 1 THEN 1
                   ELSE length(bin(ndv - 1)) END AS BIGINT) AS bit_width
  FROM prof
), sized AS (
  SELECT *,
         CAST(dict_value_bytes + (n_rows * bit_width + 7) // 8 AS BIGINT)
           AS dict_bytes
  FROM w
)
SELECT col_name, n_rows, ndv, bit_width, plain_bytes, dict_bytes,
       CASE WHEN dict_bytes < plain_bytes THEN 'dict' ELSE 'plain' END
         AS best_encoding,
       CAST((plain_bytes - least(plain_bytes, dict_bytes)) * 1000
            // plain_bytes AS BIGINT) AS savings_permille
FROM sized
ORDER BY col_name
"""

ROUND9D_QUERIES["encoding_size_estimate"] = (
    q_encoding_size_estimate,
    _ENC_SQL,
)


# ---------------------------------------------------------------------------
# walk_forward_cv_folds — leakage-safe time-series cross-validation
# ---------------------------------------------------------------------------

_WF_SPLITS = 5  # 4 folds: train on [lo, cut_k), test on [cut_k, cut_{k+1})


def q_walk_forward_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (expanding-window) cross-validation folds over the
    order calendar — the time-series counterpart of the registry's
    ``groupwise_cv_folds``: the date span splits into 5 equal ranges;
    fold k trains on everything before cut k and tests on the k-th
    range, and the emitted ``leak_free`` flag PROVES per fold that
    max(train date) < min(test date) — the temporal-leakage audit a
    forecasting pipeline runs before believing its backtest.

    Cut dates are pure integer arithmetic on the day span
    (``lo + span*k div 5`` days), not engine date-binning.

    Scale design: the bounds probe is a 1-row aggregate folded back as
    a broadcast; the fact table crosses the 4-row fold spine map-side
    and aggregates in one combinable pass — fold membership never
    materializes row-wise.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d")
    )
    bounds = orders.agg(
        F.min("d").alias("lo"),
        (F.datediff(F.max("d"), F.min("d")) + 1).alias("span"),
    )
    folds = bounds.select(
        "lo",
        "span",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _WF_SPLITS)])
        ).alias("fold"),
    ).select(
        "fold",
        F.date_add(
            "lo", F.expr(f"CAST(span * fold DIV {_WF_SPLITS} AS INT)")
        ).alias("cut_lo"),
        F.date_add(
            "lo",
            F.expr(f"CAST(span * (fold + 1) DIV {_WF_SPLITS} AS INT)"),
        ).alias("cut_hi"),
    )
    tagged = (
        orders.crossJoin(F.broadcast(folds))
        .where(F.col("d") < F.col("cut_hi"))
        .withColumn("is_test", (F.col("d") >= F.col("cut_lo")).cast("long"))
    )
    agg = tagged.groupBy("fold", "cut_lo").agg(
        F.sum(1 - F.col("is_test")).cast("long").alias("n_train"),
        F.sum("is_test").cast("long").alias("n_test"),
        F.max(F.when(F.col("is_test") == 0, F.col("d"))).alias(
            "max_train_date"
        ),
        F.min(F.when(F.col("is_test") == 1, F.col("d"))).alias(
            "min_test_date"
        ),
    )
    return agg.select(
        F.col("fold").cast("long").alias("fold"),
        F.col("cut_lo").alias("cut_date"),
        "n_train",
        "n_test",
        "max_train_date",
        "min_test_date",
        F.when(
            F.col("max_train_date").isNull()
            | F.col("min_test_date").isNull(),
            F.lit(1),
        )
        .otherwise(
            (F.col("max_train_date") < F.col("min_test_date")).cast("long")
        )
        .cast("long")
        .alias("leak_free"),
    ).orderBy("fold")


_WF_SQL = f"""
WITH src AS (
  SELECT CAST(o_orderdate AS DATE) AS d FROM orders
), bounds AS (
  SELECT MIN(d) AS lo, datediff('day', MIN(d), MAX(d)) + 1 AS span FROM src
), folds AS (
  SELECT k.fold,
         CAST(lo + ((span * k.fold) // {_WF_SPLITS}) * INTERVAL 1 DAY
              AS DATE) AS cut_lo,
         CAST(lo + ((span * (k.fold + 1)) // {_WF_SPLITS}) * INTERVAL 1 DAY
              AS DATE) AS cut_hi
  FROM bounds, (SELECT unnest([1, 2, 3, 4]) AS fold) k
), tagged AS (
  SELECT f.fold, f.cut_lo, s.d,
         CASE WHEN s.d >= f.cut_lo THEN 1 ELSE 0 END AS is_test
  FROM src s, folds f
  WHERE s.d < f.cut_hi
), agg AS (
  SELECT fold, cut_lo,
         CAST(SUM(1 - is_test) AS BIGINT) AS n_train,
         CAST(SUM(is_test) AS BIGINT) AS n_test,
         MAX(CASE WHEN is_test = 0 THEN d END) AS max_train_date,
         MIN(CASE WHEN is_test = 1 THEN d END) AS min_test_date
  FROM tagged GROUP BY 1, 2
)
SELECT CAST(fold AS BIGINT) AS fold, cut_lo AS cut_date,
       n_train, n_test, max_train_date, min_test_date,
       CAST(CASE WHEN max_train_date IS NULL OR min_test_date IS NULL
                 THEN 1
                 ELSE CAST(max_train_date < min_test_date AS BIGINT)
            END AS BIGINT) AS leak_free
FROM agg
ORDER BY fold
"""

ROUND9D_QUERIES["walk_forward_cv_folds"] = (
    q_walk_forward_cv_folds,
    _WF_SQL,
)


# ---------------------------------------------------------------------------
# grace_hash_join_plan — spill-partition planning for a hash join
# ---------------------------------------------------------------------------

_GHJ_ROW_BYTES = 24
_GHJ_BUDGET = 131072  # 128 KiB per-partition build budget at fixture scale


def q_grace_hash_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grace hash join spill planning, audited: given a per-partition
    build-memory budget, the planner picks fanout = the smallest power
    of two with total_build_bytes / fanout <= budget, then the audit
    hashes the build side (``lineitem`` keyed on ``l_partkey``) into
    that many grace partitions and reports each partition's build
    rows/bytes, key count, heaviest key, and whether it still exceeds
    the budget (a real engine would recurse those).  The heaviest-key
    column is the unsplittable-skew detector: a key whose rows alone
    exceed the budget can never be split by rehashing — the signal to
    salt or broadcast it instead.

    The fanout is data-dependent but stays IN-PLAN: the 1-row count
    frame cross-joins into the fact scan (the weighted_shortest_path
    lesson — no scalar driver actions), and the power-of-two ceiling
    is ``shiftleft(1, length(bin(ratio - 1)))`` — pure integers.

    Scale design: one combinable (partition, key) census then a
    fanout-bounded rollup; exactly the two passes a spill planner can
    afford at 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    fan = (
        li.agg(F.count(F.lit(1)).cast("long").alias("n_build"))
        .select(
            "n_build",
            F.expr(
                f"(n_build * {_GHJ_ROW_BYTES} + {_GHJ_BUDGET} - 1) "
                f"DIV {_GHJ_BUDGET}"
            ).alias("ratio"),
        )
        .select(
            "n_build",
            F.when(F.col("ratio") <= 1, F.lit(1).cast("long"))
            .otherwise(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), "
                    "CAST(length(bin(ratio - 1)) AS INT))"
                )
            )
            .alias("fanout"),
        )
    )
    keyed = (
        li.crossJoin(F.broadcast(fan))
        .select(
            (
                h32(F.col("l_partkey").cast("string")) % F.col("fanout")
            ).alias("part_id"),
            "l_partkey",
            "fanout",
        )
        .groupBy("part_id", "fanout", "l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("kn"))
    )
    return (
        keyed.groupBy("part_id", "fanout")
        .agg(
            F.sum("kn").cast("long").alias("build_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("kn").cast("long").alias("max_key_rows"),
        )
        .select(
            F.col("part_id").cast("long").alias("part_id"),
            "fanout",
            "build_rows",
            "n_keys",
            "max_key_rows",
            (F.col("build_rows") * _GHJ_ROW_BYTES)
            .cast("long")
            .alias("build_bytes"),
            (
                F.col("build_rows") * _GHJ_ROW_BYTES > F.lit(_GHJ_BUDGET)
            )
            .cast("long")
            .alias("over_budget"),
        )
        .orderBy("part_id")
    )


_GHJ_HASH = h32_sql("CAST(l_partkey AS VARCHAR)")

_GHJ_SQL = f"""
WITH fan AS (
  SELECT n_build,
         CASE WHEN ratio <= 1 THEN CAST(1 AS BIGINT)
              ELSE (CAST(1 AS BIGINT) << length(bin(ratio - 1))) END
           AS fanout
  FROM (
    SELECT COUNT(*) AS n_build,
           (COUNT(*) * {_GHJ_ROW_BYTES} + {_GHJ_BUDGET} - 1)
             // {_GHJ_BUDGET} AS ratio
    FROM lineitem
  )
), keyed AS (
  SELECT {_GHJ_HASH} % f.fanout AS part_id, f.fanout, l_partkey,
         COUNT(*) AS kn
  FROM lineitem, fan f
  GROUP BY 1, 2, 3
)
SELECT CAST(part_id AS BIGINT) AS part_id,
       CAST(fanout AS BIGINT) AS fanout,
       CAST(SUM(kn) AS BIGINT) AS build_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(kn) AS BIGINT) AS max_key_rows,
       CAST(SUM(kn) * {_GHJ_ROW_BYTES} AS BIGINT) AS build_bytes,
       CAST(SUM(kn) * {_GHJ_ROW_BYTES} > {_GHJ_BUDGET} AS BIGINT)
         AS over_budget
FROM keyed
GROUP BY 1, 2
ORDER BY part_id
"""

ROUND9D_QUERIES["grace_hash_join_plan"] = (
    q_grace_hash_join_plan,
    _GHJ_SQL,
)
