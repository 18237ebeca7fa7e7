"""Equivalence gates for the fused and vectorized fast paths.

Each fast path has a plainer reference shape it MUST match exactly —
the chained two-crossing media operators, a row-at-a-time CSV server —
so a future edit to either side (or a numpy/py version bump that
changes rounding) fails loudly instead of silently diverging.
"""

from __future__ import annotations

import csv
import io

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_fused_jpeg_stats_equals_chained(spark):
    """synthesize_jpeg_pixel_stats (ONE Arrow crossing) must emit
    exactly what jpeg_pixel_stats(synthesize_jpeg_media(...)) (two
    crossings) emits — same per-doc helpers, so byte-identical payloads
    and identical int64 stats."""
    from etl_portofolio_spark.catalog import load_table
    from etl_portofolio_spark.operators.multimodal import (
        jpeg_pixel_stats,
        synthesize_jpeg_media,
        synthesize_jpeg_pixel_stats,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(40)
    chained = jpeg_pixel_stats(
        synthesize_jpeg_media(docs, id_col="doc_id", text_col="text"),
        id_col="doc_id",
        bin_col="content",
    )
    fused = synthesize_jpeg_pixel_stats(docs, id_col="doc_id", text_col="text")
    assert fused.schema == chained.schema
    assert _rows(fused) == _rows(chained)


def _row_loop_events_csv(url, lo, hi):
    """Reference server: full-file read, pandas boolean filter, per-row
    csv.writer loop — the plain shape the vectorized fetcher replaced."""
    import pyarrow.parquet as pq

    df = pq.read_table(url, columns=["event_id", "ts", "user_id", "event_type"]).to_pandas()
    df = df[(df["ts"] >= lo) & (df["ts"] < hi)]
    out = io.StringIO()
    w = csv.writer(out)
    w.writerow(
        [
            "waktu",
            "appId_String",
            "clientAddr",
            "serverAddr",
            "transactions",
            "delay",
            "throughput",
        ]
    )
    for eid, ts, uid, et in zip(df["event_id"], df["ts"], df["user_id"], df["event_type"]):
        w.writerow(
            [
                str(ts)[:19],
                et,
                f"u{uid}",
                f"s{eid % 7}",
                str(eid % 100),
                str(uid % 50),
                str(eid % 1000),
            ]
        )
    return out.getvalue()


def test_xmlapi_vectorized_fetcher_byte_identical():
    """The vectorized fixture fetcher (predicate-pushdown read +
    pandas to_csv) must emit BYTE-identical CSV to the row-loop
    csv.writer server, window by window — including the empty window."""
    from datetime import datetime

    import pandas as pd

    from etl_portofolio_spark.sources.http_xml import build_query_xml
    from etl_portofolio_spark.sources.xmlapi_fixture import fetch_events_csv

    url = f"{SF_DIR}/events.parquet"
    windows = [
        (datetime(2024, 1, 1), datetime(2024, 1, 2)),
        (datetime(2024, 1, 2), datetime(2024, 1, 9)),
        (datetime(1999, 1, 1), datetime(1999, 1, 2)),  # empty window
    ]
    for lo, hi in windows:
        body = build_query_xml(("waktu",), "", lo, hi)
        new_csv = fetch_events_csv(url, body, str(lo))
        assert new_csv == _row_loop_events_csv(url, pd.Timestamp(lo), pd.Timestamp(hi))
    assert new_csv.count("\r\n") == 1  # the empty window is header-only


def test_fused_filled_media_stats_equals_chained(spark):
    """synthesize_filled_pixel_stats (ONE Arrow crossing) must emit
    exactly what pixel_sample_stats(synthesize_filled_media(...)) (two
    crossings) emits — same per-doc helpers, so byte-identical BMP/WAV
    payloads and identical stats."""
    from etl_portofolio_spark.catalog import load_table
    from etl_portofolio_spark.operators.multimodal import (
        pixel_sample_stats,
        synthesize_filled_media,
        synthesize_filled_pixel_stats,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(40)
    chained = pixel_sample_stats(
        synthesize_filled_media(docs, id_col="doc_id", text_col="text"),
        id_col="doc_id",
        bin_col="content",
    )
    fused = synthesize_filled_pixel_stats(docs, id_col="doc_id", text_col="text")
    assert fused.schema == chained.schema
    assert _rows(fused) == _rows(chained)
