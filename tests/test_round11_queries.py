"""Round-11 wave: algorithmic cross-checks beyond the oracle hash —
the JPEG decoded-RGB lookup regenerated from the codec itself (plus
tile-constancy and crop assertions, the properties the oracle's
arithmetic rests on), McNemar / Cochran's Q / ROUGE / BLEU replayed
from raw rows in pure-Python integer arithmetic (the staged
truncating-division formulas are the spec, so the replay is exact)."""

from __future__ import annotations

import hashlib
import math

import duckdb

from tests.conftest import SF_DIR


def _texts():
    return [
        r[0]
        for r in duckdb.sql(
            f"SELECT text FROM read_parquet('{SF_DIR}/documents.parquet')"
            " ORDER BY doc_id"
        ).fetchall()
    ]


# ---------------------------------------------------------------------------
# jpeg_pixel_stats
# ---------------------------------------------------------------------------


def test_jpeg_lookup_regenerates_from_codec():
    """The committed 256-entry decoded-RGB table IS the codec's output:
    regenerate every (palette, quality) cell through encode+decode and
    assert (a) equality with the literal and (b) tile constancy — the
    two properties the SQL oracle's sum_level arithmetic rests on."""
    import numpy as np

    from etl_portofolio_spark.operators.jpeg_baseline import (
        decode_jpeg,
        encode_jpeg,
    )
    from etl_portofolio_spark.operators.multimodal import (
        JPEG_QUALITIES,
        jpeg_palette,
    )
    from etl_portofolio_spark.plans.round11_queries import _JPEG_DECODED_RGB

    for pal in range(64):
        r, g, b = jpeg_palette(pal)
        img = np.empty((8, 8, 3), dtype=np.uint8)
        img[..., 0], img[..., 1], img[..., 2] = r, g, b
        for qi, quality in enumerate(JPEG_QUALITIES):
            h, w, n, px = decode_jpeg(encode_jpeg(img, quality=quality))
            arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, n)
            rd, gd, bd = int(arr[0, 0, 0]), int(arr[0, 0, 1]), int(arr[0, 0, 2])
            assert all(
                (arr[..., c] == (rd, gd, bd)[c]).all() for c in range(3)
            ), f"non-constant decode at pal={pal} q={quality}"
            assert _JPEG_DECODED_RGB[pal * 4 + qi] == (
                (rd << 16) | (gd << 8) | bd
            ), f"lookup drift at pal={pal} q={quality}"


def test_jpeg_crop_and_padding_preserve_constancy():
    """Non-multiple-of-8 dimensions (the synthesized class) decode to
    the SAME constant as the 8x8 reference tile and crop to the SOF
    dimensions exactly — MCU edge padding must not leak into the crop."""
    import numpy as np

    from etl_portofolio_spark.operators.jpeg_baseline import (
        decode_jpeg,
        encode_jpeg,
    )
    from etl_portofolio_spark.operators.multimodal import jpeg_palette
    from etl_portofolio_spark.plans.round11_queries import _JPEG_DECODED_RGB

    for pal, quality, qi, (w, ht) in [
        (7, 35, 0, (13, 9)),
        (42, 50, 1, (47, 31)),
        (63, 75, 2, (5, 5)),
        (0, 90, 3, (48, 32)),
    ]:
        r, g, b = jpeg_palette(pal)
        img = np.empty((ht, w, 3), dtype=np.uint8)
        img[..., 0], img[..., 1], img[..., 2] = r, g, b
        hh, ww, nn, px = decode_jpeg(encode_jpeg(img, quality=quality))
        assert (hh, ww, nn) == (ht, w, 3)
        arr = np.frombuffer(px, dtype=np.uint8).reshape(hh, ww, nn)
        packed = _JPEG_DECODED_RGB[pal * 4 + qi]
        exp = (packed >> 16, (packed >> 8) & 0xFF, packed & 0xFF)
        assert all((arr[..., c] == exp[c]).all() for c in range(3))


def test_jpeg_pixel_stats_replayed_per_doc(spark):
    """Spark's decoded statistics equal a direct Python replay of the
    synthesis parameters (md5 nibbles -> palette/quality/dims) times
    the committed lookup — the same arithmetic the DuckDB oracle runs."""
    from etl_portofolio_spark.plans.round11_queries import (
        _JPEG_DECODED_RGB,
        q_jpeg_pixel_stats,
    )

    expected = {}
    for i, txt in enumerate(_texts()):
        h = hashlib.md5(txt.encode("utf-8")).hexdigest()
        pal, qi = int(h[0:2], 16) % 64, int(h[2:4], 16) % 4
        w, ht = 5 + int(h[4:6], 16) % 44, 5 + int(h[6:8], 16) % 28
        packed = _JPEG_DECODED_RGB[pal * 4 + qi]
        s = (packed >> 16) + ((packed >> 8) & 0xFF) + (packed & 0xFF)
        expected[i] = (w, ht, 3 * w * ht, s * w * ht)

    rows = q_jpeg_pixel_stats(spark, SF_DIR).collect()
    assert len(rows) == len(expected)
    for row in rows:
        assert (
            row["width"],
            row["height"],
            row["n_pixels"],
            row["sum_level"],
        ) == expected[row["doc_id"]]


# ---------------------------------------------------------------------------
# mcnemar / cochran
# ---------------------------------------------------------------------------


def _toks(txt: str) -> list[str]:
    """Replay tokenizer matching BOTH engines' regexp-split semantics:
    split('', r'\\s+') yields one '' token (wc=1), unlike Python's
    str.split() which yields [] — a review-confirmed divergence on
    empty/whitespace-only documents."""
    import re

    return re.split(r"\s+", txt.strip().lower())


def _flags():
    out = []
    for txt, nc in duckdb.sql(
        f"SELECT text, n_chars FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall():
        wc = len(_toks(txt))
        out.append((int(wc >= 64), int(nc >= 384), int(nc >= 6 * wc)))
    return out


def test_mcnemar_replayed_from_raw_rows(spark):
    from etl_portofolio_spark.plans.round11_queries import (
        q_mcnemar_paired_flags,
    )

    flags = _flags()
    n10 = sum(a * (1 - b) for a, b, _ in flags)
    n01 = sum((1 - a) * b for a, b, _ in flags)
    row = q_mcnemar_paired_flags(spark, SF_DIR).collect()[0]
    assert (row["n_docs"], row["n10"], row["n01"]) == (len(flags), n10, n01)
    assert row["chi2_permille"] == (n10 - n01) ** 2 * 1000 // (n10 + n01)
    assert row["chi2_cc_permille"] == (abs(n10 - n01) - 1) ** 2 * 1000 // (
        n10 + n01
    )


def test_cochran_q_replayed_from_raw_rows(spark):
    from etl_portofolio_spark.plans.round11_queries import (
        q_cochran_q_heuristics,
    )

    flags = _flags()
    g = [sum(f[j] for f in flags) for j in range(3)]
    t = sum(g)
    sum_l2 = sum((a + b + c) ** 2 for a, b, c in flags)
    q = 2 * (3 * sum(x * x for x in g) - t * t) * 1000 // (3 * t - sum_l2)
    row = q_cochran_q_heuristics(spark, SF_DIR).collect()[0]
    assert (
        row["n_docs"],
        row["g_a"],
        row["g_b"],
        row["g_c"],
        row["sum_l2"],
        row["q_permille"],
    ) == (len(flags), g[0], g[1], g[2], sum_l2, q)


# ---------------------------------------------------------------------------
# rouge / bleu
# ---------------------------------------------------------------------------


def _gram_counts_py(toks, n):
    counts: dict[str, int] = {}
    grams = toks if n == 1 else [
        f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
    ]
    for gm in grams:
        counts[gm] = counts.get(gm, 0) + 1
    return counts


def _pair_stats_py(n):
    toks = [_toks(t) for t in _texts()]
    out = {}
    for i in range(len(toks) - 1):
        ref, hyp = _gram_counts_py(toks[i], n), _gram_counts_py(toks[i + 1], n)
        ov = sum(min(c, hyp[gm]) for gm, c in ref.items() if gm in hyp)
        out[i] = (sum(ref.values()), sum(hyp.values()), ov)
    return out


def test_rouge_replayed_from_raw_rows(spark):
    from etl_portofolio_spark.plans.round11_queries import (
        q_rouge_ngram_overlap,
    )

    uni, bi = _pair_stats_py(1), _pair_stats_py(2)
    rows = q_rouge_ngram_overlap(spark, SF_DIR).collect()
    assert len(rows) == len(uni)
    for row in rows:
        n_ref_u, _, ov_u = uni[row["pair_id"]]
        n_ref_b, _, ov_b = bi[row["pair_id"]]
        assert (row["n_ref_uni"], row["ov_uni"]) == (n_ref_u, ov_u)
        assert (row["n_ref_bi"], row["ov_bi"]) == (n_ref_b, ov_b)
        # nullif semantics: a reference with no n-grams yields NULL
        assert row["rouge1_permicro"] == (
            ov_u * 1_000_000 // n_ref_u if n_ref_u else None
        )
        assert row["rouge2_permicro"] == (
            ov_b * 1_000_000 // n_ref_b if n_ref_b else None
        )


def test_bleu_replayed_from_raw_rows(spark):
    from etl_portofolio_spark.plans.round11_queries import (
        q_bleu_ngram_precision,
    )

    uni, bi = _pair_stats_py(1), _pair_stats_py(2)
    m1 = sum(v[2] for v in uni.values())
    t1 = sum(v[1] for v in uni.values())
    ref_len = sum(v[0] for v in uni.values())
    m2 = sum(v[2] for v in bi.values())
    t2 = sum(v[1] for v in bi.values())
    p1, p2 = m1 * 1_000_000 // t1, m2 * 1_000_000 // t2
    bp = (
        1_000_000
        if t1 >= ref_len
        else math.floor(math.exp(1.0 - ref_len / t1) * 1_000_000 + 0.5)
    )
    bleu = bp * math.floor(math.sqrt(float(p1 * p2))) // 1_000_000

    row = q_bleu_ngram_precision(spark, SF_DIR).collect()[0]
    assert (row["m1"], row["t1"], row["m2"], row["t2"]) == (m1, t1, m2, t2)
    assert (row["ref_len"], row["hyp_len"]) == (ref_len, t1)
    assert (row["p1_permicro"], row["p2_permicro"]) == (p1, p2)
    assert row["bp_permicro"] == bp
    assert row["bleu_permicro"] == bleu
    # structural: clipped precision can never exceed 1, BP <= 1
    assert 0 <= row["p1_permicro"] <= 1_000_000
    assert 0 <= row["p2_permicro"] <= 1_000_000
    assert 0 < row["bp_permicro"] <= 1_000_000


def test_rouge_bleu_degenerate_corpus_engines_agree(spark, tmp_path):
    """Review-confirmed latent divergence, pinned: a corpus containing a
    single-token document (zero bigrams) must produce the SAME pair set
    on both engines — the oracle's totals joins are LEFT from the pairs
    frame and the Spark plan zero-fills, so one-sided-empty and
    both-sided-empty pairs survive with n_ref_bi=0/NULL recall rather
    than silently vanishing from one engine only."""
    import pandas as pd

    from etl_portofolio_spark.plans.round11_queries import (
        ROUND11_QUERIES,
        q_rouge_ngram_overlap,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["a b c", "x", "y", "p q r"],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [5, 1, 1, 5],
        }
    )
    d = tmp_path / "degenerate"
    d.mkdir()
    pdf.to_parquet(d / "documents.parquet")

    rows = {
        r["pair_id"]: r.asDict()
        for r in q_rouge_ngram_overlap(spark, str(d)).collect()
    }
    # pairs 0 (3-tok ref, 1-tok hyp), 1 (1-tok/1-tok), 2 (1-tok ref,
    # 3-tok hyp) must ALL be present; bigram refs are empty for 1/2
    assert set(rows) == {0, 1, 2}
    assert rows[0]["n_ref_bi"] == 2 and rows[0]["rouge2_permicro"] == 0
    assert rows[1]["n_ref_bi"] == 0 and rows[1]["rouge2_permicro"] is None
    assert rows[2]["n_ref_bi"] == 0 and rows[2]["rouge2_permicro"] is None

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    rel = con.execute(ROUND11_QUERIES["rouge_ngram_overlap"][1])
    cols = [c[0] for c in rel.description]
    duck = {r[cols.index("pair_id")]: dict(zip(cols, r)) for r in rel.fetchall()}
    assert set(duck) == {0, 1, 2}
    for pid, row in rows.items():
        for c in ("n_ref_uni", "ov_uni", "n_ref_bi", "ov_bi",
                  "rouge1_permicro", "rouge2_permicro"):
            assert duck[pid][c] == row[c], (pid, c, duck[pid][c], row[c])

    # BLEU on the same corpus: the single global row must agree too
    bleu_fn, bleu_sql = ROUND11_QUERIES["bleu_ngram_precision"]
    srow = bleu_fn(spark, str(d)).collect()[0].asDict()
    rel = con.execute(bleu_sql)
    cols = [c[0] for c in rel.description]
    drow = dict(zip(cols, rel.fetchone()))
    for c in ("m1", "t1", "m2", "t2", "ref_len", "hyp_len",
              "p1_permicro", "p2_permicro", "bp_permicro", "bleu_permicro"):
        assert drow[c] == srow[c], (c, drow[c], srow[c])


def test_bigram_census_survives_empty_documents(spark, tmp_path):
    """A document with no tokens must add no bigrams instead of failing
    the query: slice(toks, 1, size(toks) - 1) is a negative-length
    slice on an empty token array."""
    import pandas as pd
    from pyspark.sql import functions as F

    from etl_portofolio_spark.plans.round10_queries import q_good_turing_smoothing
    from etl_portofolio_spark.plans.round11_queries import (
        _tagged_gram_counts,
        q_bleu_ngram_precision,
        q_rouge_ngram_overlap,
    )

    toks = spark.createDataFrame(
        [(0, []), (1, ["x"]), (2, ["a", "b", "c"])], "doc_id long, toks array<string>"
    )
    got = sorted(tuple(r) for r in _tagged_gram_counts(toks).collect())
    assert got == [
        (1, 1, "x", 1),
        (2, 1, "a", 1),
        (2, 1, "b", 1),
        (2, 1, "c", 1),
        (2, 2, "a b", 1),
        (2, 2, "b c", 1),
    ]

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["", "a b c", "   ", "a b"],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [0, 5, 3, 3],
        }
    )
    d = tmp_path / "empty_docs"
    d.mkdir()
    pdf.to_parquet(d / "documents.parquet")
    for q in (q_rouge_ngram_overlap, q_bleu_ngram_precision, q_good_turing_smoothing):
        assert q(spark, str(d)).agg(F.count(F.lit(1))).first()[0] >= 1
