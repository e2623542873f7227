"""Seeded tables for the ``surface_batch`` workload.

The query surface (``__spark_entry__.queries()``) reads ``<dir>/<table>.parquet``.
This writes the five tables the benchmark's 14 queries touch -- ``orders``,
``lineitem``, ``events``, ``documents`` and ``embeddings`` -- with the
columns, types and value distributions of the repository's sf0.1 test
tables, so the queries and their DuckDB oracles run unchanged. ``scale``
is the share of sf0.1's row counts. The same seed writes identical bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DAY_US = 86_400 * 1_000_000


def _date_us(rng, lo: str, hi: str, size: int) -> np.ndarray:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(lo_d, hi_d, size=size) * DAY_US


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(
        pa.table(cols, schema=schema),
        os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=1 << 20,
    )


def surface_tables(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """Write the tables; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    ts_us = pa.timestamp("us")

    n_orders = int(150_000 * scale)
    odate = _date_us(rng, "1995-01-01", "2001-08-01", n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, size=n_orders),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, size=n_orders)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, size=n_orders), 2),
        "o_orderdate": pa.array(odate, type=ts_us),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, size=n_orders)],
    }, pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", ts_us), ("o_orderpriority", pa.string()),
    ]))

    lines = rng.integers(1, 8, size=n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    perm = rng.permutation(n_li)  # file order is not key order
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    ship = odate[okey] + rng.integers(-60, 122, size=n_li) * DAY_US
    _write(out_dir, "lineitem", {
        "l_orderkey": okey[perm],
        "l_partkey": rng.integers(0, 20_000, size=n_li),
        "l_suppkey": rng.integers(0, 1_000, size=n_li),
        "l_linenumber": lnum[perm],
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_100.0, size=n_li), 2),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, size=n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, size=n_li)],
        "l_shipdate": pa.array(ship, type=ts_us),
    }, pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", ts_us),
    ]))

    n_ev = int(100_000 * scale)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = np.sort(start + rng.integers(0, 30 * DAY_US, size=n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, type=ts_us),
        "user_id": rng.integers(0, 1_500, size=n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, size=n_ev)],
        "value": np.round(rng.exponential(50.0, size=n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev).tolist()],
    }, pa.schema([
        ("event_id", pa.int64()), ("ts", ts_us), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ]))

    # documents: random word sequences; ~0.2% exact copies and ~5% near
    # copies (a few words changed, tagged "dup") so both dedup paths and
    # the LSH verify step have real work
    n_doc = int(5_000 * scale)
    vocab = np.array(WORDS)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), size=int(rng.integers(10, 101)))])
        for _ in range(n_doc)
    ]
    for i in rng.choice(n_doc, size=max(1, n_doc // 20), replace=False).tolist():
        src = texts[int(rng.integers(0, n_doc))].split(" ")
        for j in rng.integers(0, len(src), size=3).tolist():
            src[j] = "dup"
        texts[i] = " ".join(src)
    for i in rng.choice(n_doc, size=max(1, n_doc // 600), replace=False).tolist():
        texts[i] = texts[int(rng.integers(0, n_doc))]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, size=n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]))

    # embeddings: unit vectors around 10 label centres
    n_emb = int(2_000 * scale)
    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, size=n_emb).astype(np.int32)
    x = centres[label] * 0.35 + rng.normal(size=(n_emb, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, x.size + 1, 64, dtype=np.int32)), pa.array(x.ravel())
        ),
        "label": label,
    }, pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]))
    return {"orders": n_orders, "lineitem": n_li, "events": n_ev,
            "documents": n_doc, "embeddings": n_emb}
