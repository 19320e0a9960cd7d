"""Deterministic benchmark inputs.

Two kinds of input, both written as plain files the engine reads:

* ``write_tables`` -- the ten parquet tables the ``queries()`` builders read
  (TPC-H-like star schema plus ``events``, ``documents`` and ``embeddings``),
  with the column names, types and value ranges of the engine's test data.
  The tables depend only on the scale, never on the workload seed, so every
  query's checksum is a fixed property of the commit.
* ``lineitem_blobs`` / ``orders_blob`` -- gzip or plain CSV landing blobs cut
  from those tables. Here the workload seed decides which rows go to which
  blob and in what order.

Everything is numpy + pyarrow; no Spark, so generation time is the same
whatever the engine does.
"""

from __future__ import annotations

import gzip
import io
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: generator seed of the base tables (not the workload seed)
TABLE_SEED = 42

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def table_rows(scale: float) -> dict[str, int]:
    """Row count of every table at ``scale`` (1.0 = 6M lineitem rows)."""
    return {
        "region": 5,
        "nation": 25,
        "supplier": max(10, int(10_000 * scale)),
        "customer": max(150, int(150_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "orders": max(1_500, int(1_500_000 * scale)),
        "lineitem": max(6_000, int(6_000_000 * scale)),
        "events": max(1_000, int(1_000_000 * scale)),
        "documents": max(50, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, days, n).astype("timedelta64[D]")


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts; 5% are an earlier text plus " dup" (near
    duplicates) and 0.2% repeat an earlier text exactly."""
    lengths = rng.integers(10, 101, n)
    words = np.array(_WORDS)
    texts: list[str] = []
    for i, k in enumerate(lengths):
        roll = rng.random()
        if i > 0 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten label centroids."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": labels,
        }
    )


def build_tables(scale: float) -> dict[str, pa.Table]:
    """All ten tables at ``scale``, identical on every call."""
    rng = np.random.default_rng(TABLE_SEED)
    n = table_rows(scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, _SEGMENTS, nc),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": _pick(rng, names, npart),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": _pick(rng, _PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10, 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _dates(rng, no, 2404),
            "o_orderpriority": _pick(rng, _PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, npart, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _dates(rng, nl, 2499),
        }
    )
    ne = n["events"]
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne)).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(15, ne // 66), ne),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(out_dir: str, scale: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def assign_rows(n_rows: int, n_blobs: int, seed: int) -> list[np.ndarray]:
    """Seeded row-to-blob assignment: a permutation cut into ``n_blobs``
    near-equal slices, so both membership and in-blob order follow the
    seed."""
    perm = np.random.default_rng(seed).permutation(n_rows)
    return np.array_split(perm, n_blobs)


def csv_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pacsv.write_csv(table, buf)
    return buf.getvalue()


def lineitem_blobs(
    lineitem: pa.Table, out_dir: str, n_blobs: int, seed: int
) -> tuple[list[str], int]:
    """Cut ``lineitem`` into ``n_blobs`` gzip CSV blobs with a header.

    Returns the blob paths and the total uncompressed CSV bytes.
    """
    os.makedirs(out_dir, exist_ok=True)
    slices = assign_rows(lineitem.num_rows, n_blobs, seed)
    # the date column lands as yyyy-MM-dd, the form the CSV reader's
    # DateType parses without options
    table = lineitem.set_column(
        lineitem.schema.get_field_index("l_shipdate"),
        "l_shipdate",
        lineitem["l_shipdate"].cast(pa.date32()),
    )

    def write(i: int) -> int:
        raw = csv_bytes(table.take(pa.array(slices[i])))
        path = os.path.join(out_dir, f"lineitem-{i:03d}.csv.gz")
        with open(path, "wb") as fh:
            fh.write(gzip.compress(raw, compresslevel=6, mtime=0))
        return len(raw)

    with ThreadPoolExecutor(max_workers=4) as pool:
        sizes = list(pool.map(write, range(n_blobs)))
    paths = [os.path.join(out_dir, f"lineitem-{i:03d}.csv.gz") for i in range(n_blobs)]
    return paths, sum(sizes)


def orders_blob(orders: pa.Table, rows: np.ndarray, blob_id: int) -> bytes:
    """One landing blob: the given orders rows (in that order) plus the
    blob id, as plain CSV with a header."""
    part = orders.take(pa.array(rows))
    part = part.set_column(
        part.schema.get_field_index("o_orderdate"),
        "o_orderdate",
        part["o_orderdate"].cast(pa.date32()),
    )
    part = part.append_column(
        "blob_id", pa.array(np.full(len(rows), blob_id, dtype=np.int64))
    )
    return csv_bytes(part)
