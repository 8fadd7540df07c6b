"""Seeded analytics tables for the `analytics` workload.

Writes one parquet file per table, in the column names and types the
query registry reads (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings). Values are drawn
independently per row from fixed ranges and vocabularies; a small
share of documents are near-copies of an earlier one with a trailing
"dup" token, so the dedup operators have pairs to find. Row counts are
fixed (150 customers, 10 suppliers, 200 parts, 1,500 orders, 6,000
lineitems, 1,000 events, 500 documents and embeddings); the seed only
changes the values.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PNOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
          "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_WORDS = ("a agg batch big column customer data fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()

N_CUST, N_SUPP, N_PART = 150, 10, 200
N_ORD, N_LINE = 1500, 6000
N_EV, N_DOC = 1000, 500


def _ts(days: np.ndarray, base: datetime.date,
        seconds: np.ndarray | None = None) -> pa.Array:
    us = (np.datetime64(base, "us")
          + days.astype("timedelta64[D]").astype("timedelta64[us]"))
    if seconds is not None:
        us = us + (seconds * 1e6).astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUST), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUST),
        "c_mktsegment": rng.choice(_SEGMENTS, N_CUST)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPP), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPP)})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PADJ, N_PART),
                                              rng.choice(_PNOUN, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(_PTYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 200) * 0.1,
                                  2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORD), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORD),
        "o_totalprice": _money(rng, 1000, 500000, N_ORD),
        "o_orderdate": _ts(rng.integers(0, 2404, N_ORD),
                           datetime.date(1995, 1, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, N_ORD)})
    qty = rng.integers(1, 51, N_LINE).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LINE), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINE), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINE), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINE), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, N_LINE),
                                    2),
        "l_discount": np.round(rng.integers(0, 11, N_LINE) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINE) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINE),
        "l_linestatus": rng.choice(["F", "O"], N_LINE),
        "l_shipdate": _ts(rng.integers(1, 2500, N_LINE),
                          datetime.date(1995, 1, 1))})
    out["events"] = pa.table({
        "event_id": pa.array(range(N_EV), pa.int64()),
        "ts": _ts(np.zeros(N_EV, dtype=int), datetime.date(2024, 1, 1),
                  np.sort(rng.uniform(0, 30 * 86400, N_EV))),
        "user_id": pa.array(rng.integers(0, 15, N_EV), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, N_EV),
        "value": _money(rng, 0.01, 330, N_EV),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EV)]})
    texts: list[str] = []
    for i in range(N_DOC):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 4)))
            continue
        n_chars = int(rng.integers(47, 560))
        words, size = [], -1
        while size < n_chars:
            w = _WORDS[int(rng.integers(0, len(_WORDS)))]
            words.append(w)
            size += len(w) + 1
        texts.append(" ".join(words)[:n_chars].rstrip())
    out["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOC), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, N_DOC),
        "source": [f"src{i % 20}" for i in range(N_DOC)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(0, 0.1, (N_DOC, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_DOC), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_DOC), pa.int32())})
    return out


def write_tables(out_dir: str, seed: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
