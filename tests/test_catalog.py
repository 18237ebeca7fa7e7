"""The catalog's schema cache follows the files of a table."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from etl_portofolio_spark.catalog import listing_signature, load_table


def test_load_table_sees_a_column_added_by_an_in_place_rewrite(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_listing_signature_lists_data_files_only(tmp_path):
    table = tmp_path / "t"
    (table / "ds=1").mkdir(parents=True)
    (table / "_zonemap").mkdir()
    (table / "ds=1" / "part-0.parquet").write_bytes(b"12345")
    (table / "ds=1" / ".part-0.parquet.crc").write_bytes(b"1")
    (table / "_SUCCESS").write_bytes(b"")
    (table / "_zonemap" / "zonemap.parquet").write_bytes(b"1")
    sig = listing_signature(str(table))
    assert [(name, size) for name, size, _ in sig] == [
        (os.path.join("ds=1", "part-0.parquet"), 5)
    ]
    assert listing_signature(str(table / "ds=1" / "part-0.parquet"))[0][:2] == (
        "part-0.parquet",
        5,
    )
    assert listing_signature(str(tmp_path / "missing")) is None
