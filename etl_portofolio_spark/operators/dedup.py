"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The standard LLM-training-corpus dedup ladder, each expressed as pure
DataFrame ops so Catalyst/AQE own the physical plan:

- **exact**: md5 of normalized text → groupBy. One shuffle on a 32-char
  key; at 100 TB this is the cheapest possible dedup (hash-partitioned,
  map-side partial agg).
- **MinHash + LSH**: shingle → per-shingle salted md5 → per-doc min
  (one explode + one groupBy = one shuffle on doc_id) → band hashes →
  self-join on (band, hash) buckets (shuffle on band hash, never the
  full O(n²) cross join) → exact-Jaccard verification of candidates
  only. This is the textbook near-dedup scale path.
- **SimHash**: weighted bit-vote fingerprint; one groupBy(doc, token)
  + one groupBy(doc); pairs via fingerprint-equality buckets or small
  hamming radius.
- **n-gram Jaccard**: exact pairwise Jaccard *within a blocking key* —
  quadratic inside a block, so only usable with good blocking; kept as
  the ground-truth comparator for the approximate methods.

All hashing is md5-based (functions/hashing.py) so every operator has
an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.functions.hashing import (
    MINHASH_MOD,
    h32,
    h60,
    minhash_perm,
)
from etl_portofolio_spark.operators.text import tokens
from etl_portofolio_spark.operators.util import spread, spread_by

NUM_MINHASHES = 16
BAND_ROWS = 4  # 16 hashes / 4 rows = 4 bands
#: exact-duplicate fraction below which the LSH collapse path costs
#: more than it saves (representative election + expansion joins)
_COLLAPSE_MIN_DUP_FRACTION = 0.05
#: 60-bit simhash (the widest md5 prefix that stays positive in a signed
#: 64-bit long in BOTH engines). Width matters for the pair search, not
#: just fidelity: the pigeonhole blocks are bits/4 wide, and 15-bit keys
#: (32k values) keep LSH buckets sparse where the original 8-bit keys
#: (256 values) made every bucket a quadratic hotspot — measured 2.8M
#: candidate pairs from 5k docs at 32 bits. Same scheme as the Manku et
#: al. 64-bit simhash with 16-bit blocks.
SIMHASH_BITS = 60


def normalized_text(text: Column | str) -> Column:
    """Normalization for exact dedup: trim + lowercase + collapse spaces."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: one row per distinct normalized text.

    Returns (content_hash, keep_id=min id, dup_count). Deterministic
    keeper choice (min id) so reruns and oracles agree.
    """
    return (
        df.select(
            F.col(id_col),
            F.md5(normalized_text(text_col)).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingles_of(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a *materialized* token-array column.

    ``toks`` MUST be an attribute reference (a column produced by a prior
    projection), not an expression tree: higher-order functions evaluate
    interpreted, so an inline ``split(...)`` here would be re-evaluated
    for every array element — O(doc_len²) per row (measured 15x slower
    at sf0.1). Use :func:`shingled_docs` to get the projection right.
    """
    n = F.size(toks)
    window = F.slice(toks, 1, F.greatest(n - F.lit(k - 1), F.lit(0)))
    make = F.transform(window, lambda x, i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return F.array_distinct(make)


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles straight from a text column.

    Convenience form for one-off expressions; hot paths should go
    through :func:`shingled_docs` (tokens materialized first).
    """
    return shingles_of(tokens(text), k)


def shingled_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id[, extra...], sh_set) with the shingle set built in two stages:
    tokenize into a real column, then shingle from that attribute — see
    :func:`shingles_of` for why. Input is spread across cores first,
    KEYED on the id: every consumer of a shingle frame re-keys it by
    document (the signature groupBy, both exact-verification join
    sides), so a hash(id) spread makes the persisted frame's
    partitioning satisfy those operators directly — the round-robin
    spread paid the same exchange and then shuffled the shingle ARRAYS
    again per consumer (two 3.9 MB array exchanges at sf0.1; r10 stage
    profile). Same no-op-at-scale contract as :func:`spread`."""
    tokenized = spread_by(df, id_col).select(
        F.col(id_col), *[F.col(c) for c in extra_cols], tokens(text_col).alias("__toks")
    )
    return tokenized.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        shingles_of(F.col("__toks"), k).alias("sh_set"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = NUM_MINHASHES
) -> DataFrame:
    """Per-doc MinHash signature: min affine-permuted base hash per fn.

    Shingle once, hash each shingle once map-side, then codegen min()
    aggregates — see :func:`minhash_signatures_from_shingles` for why
    this beats the HOF map-only form. Docs with no shingles (shorter
    than k tokens) produce no signature row.
    """
    docs = shingled_docs(df, id_col, text_col)
    return minhash_signatures_from_shingles(docs, id_col, num_hashes)


def minhash_signatures_from_shingles(
    docs: DataFrame, id_col: str, num_hashes: int = NUM_MINHASHES
) -> DataFrame:
    """MinHash signatures from an (id, sh_set) frame (shingles reused).

    Explode + codegen aggregation: each shingle is hashed ONCE
    (md5 → 32-bit → mod p) BEFORE the shuffle, then ``num_hashes``
    ``min()`` aggregates of the affine permutations (a_i*h + b_i) % p
    run inside whole-stage codegen with map-side partials — the
    exchange carries only |docs| x num_hashes longs, not the exploded
    rows. Measured 5.3x over the "shuffle-free" formulation
    (array_min over num_hashes ``F.transform``s): higher-order
    functions evaluate INTERPRETED, so 16 lambda passes over every
    shingle array cost far more than one tiny codegen shuffle — the
    map-only plan was optimizing the wrong resource at both test and
    cluster scale. Docs with no shingles produce no row (explode of an
    empty array), matching the DuckDB unnest oracle.
    """
    ex = docs.select(F.col(id_col), F.explode("sh_set").alias("__s")).withColumn(
        "__h", h32("__s") % F.lit(MINHASH_MOD)
    )
    aggs = [
        F.min(minhash_perm(i, F.col("__h"))).alias(f"mh{i:02d}")
        for i in range(num_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_bands(
    sig: DataFrame, id_col: str, num_hashes: int = NUM_MINHASHES, rows: int = BAND_ROWS
) -> DataFrame:
    """Explode a signature frame to (id, band_id, band_hash) rows."""
    if rows < 1 or num_hashes % rows != 0:
        # floor division would silently DROP trailing hashes from the
        # banding — an invisible LSH recall loss, not a crash
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"rows ({rows})"
        )
    n_bands = num_hashes // rows
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"mh{b * rows + r:02d}") for r in range(rows)]
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_hash")
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = NUM_MINHASHES,
    rows: int = BAND_ROWS,
    collapse_exact: bool = True,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    Candidates come only from shared LSH buckets (equi-join on
    (band_id, band_hash)), then the *candidates only* are verified with
    exact Jaccard over distinct shingle sets. Returns
    (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    ``collapse_exact`` (default on — the production posture): byte-
    identical texts collapse to one representative BEFORE any shingle /
    signature / banding work, then pairs expand back by equi-joins at
    the end.  Real corpora run 20-40% exact duplicates, and a group of
    m copies is exactly what makes an LSH bucket hot (m² candidate
    rows in one bucket); with the collapse, the quadratic part moves to
    the OUTPUT expansion (unavoidable — those pairs are the answer)
    while compute and shuffle stay linear in distinct texts.  Results
    are bit-identical to the uncollapsed plan: copies share signatures,
    so every intra-group pair verifies at exactly 1.0 (or drops on the
    same NaN for shingle-less texts) and every cross-group member pair
    inherits its representatives' verified Jaccard verbatim.

    The collapse is ADAPTIVE: one narrow (id, md5) aggregate counts
    duplicate groups first (driver-side decision on two bounded longs —
    the AQE philosophy applied at the operator level).  The collapsed
    plan only engages when duplicates exceed
    ``_COLLAPSE_MIN_DUP_FRACTION`` of the corpus: below that the
    representative election + expansion joins cost more than the
    duplicate work they save (measured at sf0.1: +0.6 s machinery vs
    8 duplicate docs), so a near-dup-free corpus runs the direct plan
    and pays only the probe (~one map-side-combined count).
    """
    # The shingled frame feeds three plan branches (signatures + both
    # verification sides); persist it so shingles are built once. Spark's
    # cache manager is keyed on the logical plan, so repeated calls over
    # the same input also hit this cache. MEMORY_AND_DISK: spills rather
    # than recomputes at scale. Caller-released (caching.release_cached).
    from etl_portofolio_spark.caching import scoped_persist

    members = None
    if collapse_exact:
        members = scoped_persist(
            df.select(F.col(id_col), F.md5(F.col(text_col)).alias("__gid"))
        )
        probe = members.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("__gid").alias("g"),
        ).first()
        dup_frac = (probe["n"] - probe["g"]) / max(probe["n"], 1)
        if dup_frac < _COLLAPSE_MIN_DUP_FRACTION:
            collapse_exact = False

    if not collapse_exact:
        docs = scoped_persist(shingled_docs(df, id_col, text_col))
        return _verified_pairs(docs, id_col, threshold, num_hashes, rows)

    # one aggregation elects the representative text per group —
    # min_by keeps the text payload out of any join (a broadcast
    # join-back election measured slower: extra stage barrier).
    rep_docs = df.select(
        F.md5(F.col(text_col)).alias("__gid"),
        F.col(id_col),
        F.col(text_col),
    ).groupBy("__gid").agg(
        F.min(id_col).alias(id_col),
        F.min_by(text_col, F.col(id_col)).alias(text_col),
    )
    docs = scoped_persist(
        shingled_docs(rep_docs, id_col, text_col, extra_cols=("__gid",))
    )
    rep_pairs = _verified_pairs(
        docs.select(id_col, "sh_set"), id_col, threshold, num_hashes, rows
    )

    # intra-group clique: identical sets verify at s/s — exactly 1.0,
    # or NaN for shingle-less texts, filtered by the same predicate
    sizes = docs.select(
        F.col("__gid").alias("__g"), F.size("sh_set").alias("__s")
    )
    # NO merge hints on the expansion joins, deliberately: these frames
    # are (long, md5-string) rows that cache at ~1:1 compression, so the
    # broadcast threshold honestly tracks their hash-relation size — the
    # warm-cache trap needs the ~10:1 array compression of the shingle
    # frames (see _verified_pairs). Forcing merge here serialized the
    # hot-group expansion of the skew bench 2.4x (one sorted partition
    # per duplicate group) where the broadcast plan parallelizes it.
    ma = members.select(F.col(id_col).alias("id_a"), F.col("__gid").alias("__g"))
    mb = members.select(F.col(id_col).alias("id_b"), F.col("__gid").alias("__g"))
    intra = (
        ma.join(mb, "__g")
        .where(F.col("id_a") < F.col("id_b"))
        .join(sizes, "__g")
        .select(
            "id_a",
            "id_b",
            # try_divide: ANSI raises on 0/0 (shingle-less text);
            # NULL drops on the threshold filter, matching the
            # uncollapsed path's verdict for the same pair
            F.try_divide(
                F.col("__s").cast("double"), F.col("__s").cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )

    # cross-group expansion: every member pair inherits the reps' verdict
    rep_gid = docs.select(F.col(id_col).alias("__rid"), F.col("__gid"))
    ga = rep_gid.select(F.col("__rid").alias("id_a"), F.col("__gid").alias("__ga"))
    gb = rep_gid.select(F.col("__rid").alias("id_b"), F.col("__gid").alias("__gb"))
    expanded = (
        rep_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select("__ga", "__gb", "jaccard")
        .join(
            members.select(F.col(id_col).alias("__ia"), F.col("__gid").alias("__ga")),
            "__ga",
        )
        .join(
            members.select(F.col(id_col).alias("__ib"), F.col("__gid").alias("__gb")),
            "__gb",
        )
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "jaccard",
        )
    )
    return expanded.unionByName(intra)


def _verified_pairs(
    docs: DataFrame,
    id_col: str,
    threshold: float,
    num_hashes: int,
    rows: int,
) -> DataFrame:
    """Band-bucket candidates + exact-Jaccard verification over a
    (id, sh_set) frame — the LSH core shared by both collapse modes."""
    from etl_portofolio_spark.caching import scoped_persist

    # persist the SIGNATURE frame: both sides of the band self-join
    # read it, and at runtime the two sides materialize as separate
    # query stages (the broadcast side races the probe side past the
    # exchange-reuse cache), re-running the explode + 64-min signature
    # aggregation — the two dominant stages of the query (~10 s + ~14 s
    # executor time at sf0.1; r10 stage profile). The frame is
    # |docs| x num_hashes ints — linear in the corpus and ~50x smaller
    # than the shingle sets, so the cache is cheap at any scale.
    sig = scoped_persist(
        minhash_signatures_from_shingles(docs, id_col, num_hashes)
    )
    bands = minhash_bands(sig, id_col, num_hashes, rows)

    a = bands.alias("a")
    b = bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )

    # join-strategy hint: the shingle-set frames grow with the CORPUS,
    # so they must never be the build side of a BROADCAST join. Without
    # a hint the planner picks sort-merge on a cold cache (parquet-scan
    # estimate: huge) but BROADCASTS on a warm one — the materialized
    # InMemoryRelation's COMPRESSED columnar size (~40 MB for 500k
    # shingle sets) sits under the 64m threshold while the deserialized
    # HashedRelation is ~10x that, which OOM-killed the second pass of
    # the 100x scale run. Any estimate-independent strategy avoids the
    # trap; the r10 A/B (SCALE.md §"round 10") picked SHUFFLE_HASH over
    # merge: per-partition hash build on the shingle side skips merge's
    # full sort of both corpus-scale inputs (and Spark 4's SHJ build
    # side is spillable, so partition-sized builds hold at any corpus
    # size), recovering most of merge's sf0.1 tax while the 3x warm
    # 100x passes stay green.
    hint = "shuffle_hash"
    da = docs.select(F.col(id_col).alias("id_a"), F.col("sh_set").alias("sh_a"))
    db = docs.select(F.col(id_col).alias("id_b"), F.col("sh_set").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(da.hint(hint), "id_a")
        .join(db.hint(hint), "id_b")
        .select(
            "id_a",
            "id_b",
            # try_divide: union=0 (two shingle-less texts) must drop
            # the pair, not raise under ANSI
            F.try_divide(inter.cast("double"), union.cast("double")).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


#: Bit-counter packing for the simhash aggregation: 3 counters of 21
#: bits per 64-bit accumulator. Bounds docs at 2^21-1 tokens (≈2M —
#: ~10 MB of text) before a field overflows into its neighbor.
_PACK_FIELDS = 3
_PACK_WIDTH = 21
_PACK_MASK = (1 << _PACK_WIDTH) - 1


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash: frequency-weighted bit votes over token h60 hashes.

    ONE shuffle: a vote per token INSTANCE summed per doc is
    algebraically identical to the per-(doc, token)-count weighting, so
    the intermediate (doc, token) count aggregation the textbook
    formulation uses is pure overhead (measured 2x at sf0.1 — it
    shuffled |doc×distinct-tok| rows AND hashed after a shuffle instead
    of map-side).

    The per-bit ones-counts are PACKED 3-per-long (21-bit fields,
    docs bounded at 2^21-1 tokens): 60 separate ±1 CASE sums stayed
    inside codegen but carried a 60-long aggregation buffer and a
    branch per bit per row — the packed form shrinks the hash-map row
    3x and replaces the branches with shift/mask adds (measured 3.6x:
    2.5s → 0.7s for sf0.1 fingerprints). The bit vote is recovered as
    ``2*ones_b > n_tokens`` — identical to the ±1 sum being > 0.
    (A broadcast token→hash dictionary to dedupe the md5 work was
    measured slower here — the distinct+join overhead exceeds the
    hashing saved.)
    """
    tok = spread(df).select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    hashed = tok.withColumn("h", h60("tok"))
    n_acc = (bits + _PACK_FIELDS - 1) // _PACK_FIELDS
    # Both unrolled loops are emitted as SQL strings — ONE F.expr/py4j
    # call per aggregate / per fingerprint instead of ~5 Column calls
    # per bit (~700 driver round-trips for 60 bits; measured ~1.1 s of
    # pure plan-build per invocation before, ~0.1 s after). The parsed
    # trees are the same shift/mask adds, all-integer, so results are
    # unchanged bit-for-bit.
    packs = []
    for j in range(n_acc):
        terms = " + ".join(
            f"shiftleft(shiftright(h, {_PACK_FIELDS * j + k}) & 1, {_PACK_WIDTH * k})"
            for k in range(_PACK_FIELDS)
            if _PACK_FIELDS * j + k < bits
        )
        packs.append(F.expr(f"sum({terms})").alias(f"acc{j:02d}"))
    per_doc = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"), *packs
    )
    fp_terms = []
    for b in range(bits):
        j, k = divmod(b, _PACK_FIELDS)
        fp_terms.append(
            f"CASE WHEN (shiftright(acc{j:02d}, {_PACK_WIDTH * k}) & {_PACK_MASK})"
            f" * 2 > __n THEN {1 << b}L ELSE 0L END"
        )
    fp = F.expr(" + ".join(fp_terms))
    # Overflow guard: a doc with >= 2^21 tokens would carry into the
    # neighboring packed counter and silently corrupt the fingerprint.
    # assert_true is codegen'd per row and returns NULL on success, so
    # coalesce(guard, 0) adds nothing to the fingerprint on the happy
    # path and fails the job loudly instead of corrupting (ADVICE r2).
    guard = F.assert_true(
        F.col("__n") < F.lit(1 << _PACK_WIDTH),
        F.concat(
            F.lit("simhash counter overflow: doc "),
            F.col(id_col).cast("string"),
            F.lit(" has >= 2^21 tokens — pre-truncate the input"),
        ),
    )
    return per_doc.select(
        F.col(id_col),
        (fp + F.coalesce(guard.cast("long"), F.lit(0))).cast("long").alias("simhash"),
    )


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance.

    Pigeonhole blocking: 4 blocks of bits/4 bits — any pair with
    hamming <= 3 must agree on >= 1 whole block, so the equi-join on
    (block_id, block_val) is exhaustive for the radius. At 60 bits the
    block keys are 15 bits wide (32k values), which keeps bucket sizes
    — and therefore the join's quadratic fan-out — small even on
    correlated corpora (see SIMHASH_BITS).
    """
    # Fingerprints are consumed by both sides of the block self-join;
    # persist so the two token-hash aggregations run once.
    # Caller-released (caching.release_cached).
    from etl_portofolio_spark.caching import scoped_persist

    fp = scoped_persist(simhash_fingerprints(df, id_col, text_col, bits))
    n_blocks = 4
    width = bits // n_blocks
    mask = (1 << width) - 1
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block_id"),
                F.shiftright(F.col("simhash"), i * width).bitwiseAND(mask).alias("block_val"),
            )
            for i in range(n_blocks)
        ]
    )
    bl = fp.select(id_col, "simhash", F.explode(blocks).alias("b")).select(
        id_col, "simhash", "b.block_id", "b.block_val"
    )
    a, b = bl.alias("a"), bl.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """Exact k-gram Jaccard pairs within a blocking key.

    Quadratic *inside each block only* — the blocking column bounds the
    join fan-out (here: language). The ground-truth comparator for the
    approximate dedup operators above.
    """
    from etl_portofolio_spark.caching import scoped_persist

    docs = scoped_persist(  # both self-join sides; caller-released
        shingled_docs(df, id_col, text_col, k, extra_cols=(block_col,)).select(
            F.col(id_col), F.col(block_col).alias("block"), F.col("sh_set").alias("sh")
        )
    )
    # NO merge hint here, deliberately: the block key has a HANDFUL of
    # distinct values (language), so sort-merge serializes the whole
    # comparator onto #blocks tasks — measured 12x slower at sf0.1.
    # Hash-building one side is the right plan for this operator: it is
    # the documented ground-truth comparator, quadratic within a block
    # BY DESIGN, meaningful only where one side fits in memory (run it
    # on bounded samples at scale — the approximate operators above are
    # the corpus-scale path).
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size("a.sh") + F.size("b.sh") - inter
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.block").alias("block"),
            # try_divide: union=0 (two shingle-less texts) must drop
            # the pair, not raise under ANSI
            F.try_divide(inter.cast("double"), union.cast("double")).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Benchmark decontamination: drop training docs that share ANY
    k-word shingle with the eval set (the n-gram-overlap rule used to
    scrub eval leakage from LLM training corpora).

    Scale shape: eval-set grams are md5-hashed and broadcast (eval
    suites are millions of grams — MBs, not the corpus), so the
    contamination probe is a map-side LEFT SEMI join: the train corpus
    never shuffles to find matches. Only the (small) contaminated-id
    set shuffles for the final LEFT ANTI. If the eval side ever
    outgrows broadcast, remove the hint and Spark falls back to a
    shuffle semi-join on the 32-char gram hash — same semantics.
    Hashing the gram (md5) keeps shuffle/broadcast rows fixed-width
    instead of k-word strings. (A rolling-arithmetic gram hash over
    per-token h32s was measured 5x SLOWER despite doing less hashing:
    interpreted HOF cost scales with expression NODE COUNT per
    element, and the 8-term fold is ~35 nodes vs 3 for
    slice+concat+md5.) When train and eval come from the same table,
    prefer :func:`decontaminate_corpus` — it shingles the corpus once.
    """
    eval_grams = (
        shingled_docs(eval_df, id_col, text_col, k)
        .select(F.explode("sh_set").alias("gram"))
        .select(F.md5("gram").alias("gram_hash"))
        .distinct()
    )
    train_grams = (
        shingled_docs(train, id_col, text_col, k)
        .select(F.col(id_col), F.explode("sh_set").alias("gram"))
        .select(F.col(id_col), F.md5("gram").alias("gram_hash"))
    )
    contaminated = (
        train_grams.join(F.broadcast(eval_grams), "gram_hash", "left_semi")
        .select(id_col)
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def decontaminate_corpus(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    eval_pred: Column,
    k: int = 8,
) -> DataFrame:
    """Single-pass :func:`decontaminate` for the common case where the
    eval set is a predicate over the SAME corpus table: shingle once,
    split the gram stream by the predicate, persist it for the two
    consumers (eval-gram build + train-side probe). Same output as
    ``decontaminate(docs.where(~p), docs.where(p), ...)`` with half
    the shingling work; the join shape (broadcast semi + anti) is
    identical.
    """
    grams = (
        shingled_docs(
            docs.withColumn("__is_eval", eval_pred), id_col, text_col, k,
            extra_cols=("__is_eval",),
        )
        .select(F.col(id_col), "__is_eval", F.explode("sh_set").alias("gram"))
        .select(F.col(id_col), "__is_eval", F.md5("gram").alias("gram_hash"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    eval_grams = grams.where(F.col("__is_eval")).select("gram_hash").distinct()
    contaminated = (
        grams.where(~F.col("__is_eval"))
        .join(F.broadcast(eval_grams), "gram_hash", "left_semi")
        .select(id_col)
        .distinct()
    )
    # Materialize the (small) contaminated-id set now so the gram cache
    # can be released immediately — otherwise every call leaks a cached
    # frame for the rest of the session (ADVICE r2). localCheckpoint
    # keeps the ids on executors; both gram consumers have run by then.
    contaminated = contaminated.localCheckpoint()
    grams.unpersist()
    return docs.where(~eval_pred).join(contaminated, id_col, "left_anti")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: (id, component) with
    component = min id reachable — the canonical-keeper assignment that
    turns pairwise dedup output into "keep one doc per duplicate
    cluster".

    Min-label propagation: each round every vertex takes the min of its
    own label and its neighbors' labels; converges in O(graph diameter)
    rounds. Near-dup graphs are forests of tiny cliques/chains
    (diameter rarely > a few), so the driver loop runs 2–4 rounds, each
    ONE shuffle join + ONE aggregation over the edge list — never a
    quadratic stage, never a collect of the graph. ``localCheckpoint``
    truncates lineage so iteration N's plan does not replay rounds
    1..N-1; the convergence probe is a bounded count() per round (the
    same pattern as GraphX/Pregel, expressed on DataFrames).
    """
    sym = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = sym.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    labels = labels.localCheckpoint()
    changed = 0
    for _ in range(max_iterations):
        nbr_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("__changed"),
            )
        )
        updated = updated.localCheckpoint()
        changed = updated.where(F.col("__changed")).count()
        labels = updated.drop("__changed")
        if changed == 0:
            break
    sym.unpersist()
    if changed != 0:
        # Labels are still moving: a component with diameter >
        # max_iterations would get silently split, and downstream
        # keep-one-per-cluster dedup would keep extras (ADVICE r2).
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing) — raise "
            "max_iterations for graphs with long duplicate chains"
        )
    return labels


def chunk_dedup_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 12,
) -> DataFrame:
    """Sub-document (paragraph-level) dedup: drop repeated chunks
    corpus-wide, keep each chunk's FIRST occurrence, rebuild the docs.

    The fixture corpus has no paragraph breaks, so "paragraph" here is
    a fixed window of ``chunk_words`` whitespace tokens — the operator
    shape (explode to chunk grain, global first-occurrence election,
    reassembly) is exactly the one used for newline-split paragraphs on
    real corpora (swap the chunker expression).

    Scale (100 TB): two key-partitioned shuffles — a window over
    chunk_hash (first-occurrence election; the hash key is uniform, no
    skew) and the groupBy(doc) reassembly. No all-pairs work anywhere;
    per-doc arrays are bounded by doc length. First-occurrence order is
    (doc_id, chunk_idx) — total and deterministic.

    Output: one row per doc — chunk counts plus an md5 of the rebuilt
    text (NULL when every chunk of the doc was seen earlier).
    """
    if chunk_words < 1:
        raise ValueError(f"chunk_words must be >= 1, got {chunk_words}")
    toks = tokens(text_col)
    docs = spread(df).select(
        F.col(id_col),
        F.col(text_col),
        toks.alias("__toks"),
    )
    n_chunks = F.ceil(F.size("__toks") / F.lit(chunk_words)).cast("int")
    exploded = docs.select(
        F.col(id_col),
        F.col("__toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.concat_ws(
        " ",
        F.slice(
            F.col("__toks"),
            F.col("chunk_idx") * chunk_words + 1,
            chunk_words,
        ),
    )
    chunked = exploded.select(
        F.col(id_col),
        "chunk_idx",
        chunk.alias("chunk"),
        F.md5(chunk).alias("chunk_hash"),
    )
    w = Window.partitionBy("chunk_hash").orderBy(F.col(id_col), F.col("chunk_idx"))
    elected = chunked.withColumn(
        "__keep", F.row_number().over(w) == F.lit(1)
    )
    kept_struct = F.when(
        F.col("__keep"), F.struct(F.col("chunk_idx"), F.col("chunk"))
    )
    return (
        elected.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("__keep").cast("long")).alias("n_kept"),
            F.array_sort(F.collect_list(kept_struct)).alias("__kept"),
        )
        .select(
            F.col(id_col),
            "n_chunks",
            "n_kept",
            F.when(
                F.col("n_kept") > 0,
                F.md5(
                    F.array_join(
                        F.transform(F.col("__kept"), lambda s: s["chunk"]), " "
                    )
                ),
            ).alias("kept_hash"),
        )
    )
