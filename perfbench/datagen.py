"""Seeded input generators for the benchmark workloads.

Every input is derived from the workload seed alone and written under the
run's work directory. The star-schema tables follow the shape of the
repository's synthetic fixtures (TESTDATA.md): independent uniform columns
over the same value domains, TPC-H-like dimension keys, an ``events``
stream over January 2024 and a small-vocabulary ``documents`` corpus.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)

EVENTS_START = datetime(2024, 1, 1)
_US_PER_DAY = 86_400 * 1_000_000
_TS = pa.timestamp("us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so tables never share draws."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng: np.random.Generator, start: datetime, days: int, n: int) -> np.ndarray:
    """Whole-day timestamps (microseconds) uniform over ``days`` days."""
    return _epoch_us(start) + rng.integers(0, days, n) * _US_PER_DAY


def _epoch_us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _write(out_dir: str, name: str, table: pa.Table) -> dict[str, int]:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy")
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def dims(out_dir: str, seed: int, sf: float) -> dict[str, dict[str, int]]:
    """region, nation, customer, supplier, part."""
    sizes: dict[str, dict[str, int]] = {}
    sizes["region"] = _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    }))
    sizes["nation"] = _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    rng = _rng(seed, "customer")
    n = max(int(150_000 * sf), 50)
    sizes["customer"] = _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    }))
    rng = _rng(seed, "supplier")
    n = max(int(10_000 * sf), 10)
    sizes["supplier"] = _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    }))
    rng = _rng(seed, "part")
    n = max(int(200_000 * sf), 20)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    sizes["part"] = _write(out_dir, "part", pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    }))
    return sizes


def events(
    out_dir: str, seed: int, n: int, users: int, days: int = 30
) -> dict[str, int]:
    """Time-ordered event stream starting at ``EVENTS_START``."""
    rng = _rng(seed, "events")
    base = _epoch_us(EVENTS_START)
    ts = np.sort(rng.integers(0, days * _US_PER_DAY, n)) + base
    return _write(out_dir, "events", pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, _TS),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }))


def facts(out_dir: str, seed: int, sf: float) -> dict[str, dict[str, int]]:
    """orders, lineitem, documents, embeddings."""
    sizes: dict[str, dict[str, int]] = {}
    n_cust = max(int(150_000 * sf), 50)
    n_part = max(int(200_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 10)
    rng = _rng(seed, "orders")
    n_ord = max(int(1_500_000 * sf), 100)
    start = datetime(1995, 1, 1)
    sizes["orders"] = _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_days_us(rng, start, 2405, n_ord), _TS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }))
    rng = _rng(seed, "lineitem")
    n_li = n_ord * 4
    sizes["lineitem"] = _write(out_dir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days_us(rng, datetime(1995, 1, 2), 2499, n_li), _TS),
    }))
    rng = _rng(seed, "documents")
    n_doc = max(int(50_000 * sf), 50)
    texts = []
    for i in range(n_doc):
        if i % 20 == 19:
            # planted near-duplicate (5%): an earlier doc with a "dup" tail
            twin = texts[int(rng.integers(0, i))]
            texts.append(twin + " dup" * int(rng.integers(1, 3)))
            continue
        words = np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(8, 100))]
        texts.append(" ".join(words))
    sizes["documents"] = _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))
    rng = _rng(seed, "embeddings")
    n_vec = max(int(20_000 * sf), 20)
    vecs = rng.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    sizes["embeddings"] = _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }))
    return sizes


def history(seed: int, start_epoch: int, hours: int, per_hour: int) -> pa.Table:
    """Zabbix-style ``history`` rows (UPPER-CASE columns, as Derby folds
    the unquoted identifiers of the pushdown subquery)."""
    rng = _rng(seed, "history")
    n = hours * per_hour
    clock = np.sort(rng.integers(0, hours * 3600, n)) + start_epoch
    return pa.table({
        "ITEMID": rng.integers(0, 500, n).astype(np.int32),
        "CLOCK": clock.astype(np.int64),
        "VALUE": np.floor(rng.exponential(1e6, n)),
    })


def file_digest(paths: list[str]) -> str:
    """sha256 over the named files' bytes, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
