"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_tables`` writes the ten registry tables (TPC-H-shaped star
  schema, ``events``, ``documents``, ``embeddings``) as one parquet file
  each, with the column names and types the registry's loaders expect.
  Row counts follow the ``sf0.01`` shape: 500 documents and 500
  embeddings, 60,000 lineitems. The registry workload always uses
  ``TABLE_SEED`` so its committed digests stay valid; the run seed only
  permutes the entry order.
* ``corpus`` / ``queries`` make the serving workloads' JSON documents and
  query texts from the run seed.

Text is drawn from the same 30-word vocabulary the registry's text
operators were written against; about 5 % of documents are near-copies
of an earlier one with a ``dup`` suffix, so the dedup family finds pairs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

TABLE_SEED = 42
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64

# sf0.01 row counts
N_DOCS, N_EMB, N_EVENTS = 500, 500, 10_000
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM = 1500, 100, 2000, 15_000, 60_000


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    out: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            out.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return out


def _documents(rng: np.random.Generator):
    import pyarrow as pa

    texts = _texts(rng, N_DOCS)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(list(rng.choice(LANGS, N_DOCS, p=LANG_P)), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator):
    import pyarrow as pa

    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    centers *= 0.07 / np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, N_EMB)
    x = centers[label] + rng.normal(0.0, 1.0 / 8.0, (N_EMB, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def _days(rng: np.random.Generator, n: int, start: dt.datetime, span_days: int):
    import pyarrow as pa

    us = rng.integers(0, span_days, n).astype("int64") * 86_400_000_000
    base = np.datetime64(start, "us")
    return pa.array(base + us.astype("timedelta64[us]"), pa.timestamp("us"))


def _relational(rng: np.random.Generator) -> dict:
    import pyarrow as pa

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    segments = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": list(rng.choice(segments, N_CUSTOMER)),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, N_SUPPLIER),
        }
    )
    adj = ["small", "red", "blue", "hot", "old", "new"]
    noun = ["ring", "widget", "bolt", "gear", "anvil"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 6, N_PART), rng.integers(0, 5, N_PART))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": list(rng.choice(types, N_PART)),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2),
        }
    )
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], N_ORDERS)),
            "o_totalprice": money(1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _days(rng, N_ORDERS, dt.datetime(1995, 1, 1), 2404),
            "o_orderpriority": list(rng.choice(prio, N_ORDERS)),
        }
    )
    okey = np.sort(rng.integers(0, N_ORDERS, N_LINEITEM))
    linenumber = np.zeros(N_LINEITEM, dtype=np.int32)
    for i in range(1, N_LINEITEM):
        if okey[i] == okey[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    qty = rng.integers(1, 51, N_LINEITEM).astype(float)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
            "l_linenumber": pa.array(linenumber + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, N_LINEITEM), 2),
            "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100.0, 2),
            "l_returnflag": list(rng.choice(["A", "N", "R"], N_LINEITEM)),
            "l_linestatus": list(rng.choice(["F", "O"], N_LINEITEM)),
            "l_shipdate": _days(rng, N_LINEITEM, dt.datetime(1995, 1, 2), 2498),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def _events(rng: np.random.Generator):
    import pyarrow as pa

    gaps = rng.exponential(30 * 86_400 / N_EVENTS, N_EVENTS)
    us = np.cumsum(gaps * 1e6).astype("int64")
    base = np.datetime64(dt.datetime(2024, 1, 1), "us")
    kinds = ["click", "signup", "error", "view", "purchase"]
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(base + us.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, N_EVENTS), pa.int64()),
            "event_type": list(rng.choice(kinds, N_EVENTS)),
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )


def write_tables(out_dir: str, seed: int = TABLE_SEED) -> None:
    """Write the ten registry tables under ``out_dir`` (created)."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    tables = _relational(rng)
    tables["events"] = _events(rng)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def corpus(seed: int, n: int, start: int = 0) -> list[dict]:
    """``n`` upload documents (the ``/api/upload`` item shape) made from
    ``seed``; ``start`` offsets names so held-out batches never collide."""
    rng = np.random.default_rng([seed, start])
    texts = _texts(rng, n)
    langs = rng.choice(LANGS, n, p=LANG_P)
    return [
        {
            "name": f"doc-{start + i}",
            "external_id": f"ext-{start + i}",
            "document": {
                "title": " ".join(t.split()[:3]),
                "text": t,
                "lang": str(lang),
                "source": f"src{(start + i) % 20}",
            },
        }
        for i, (t, lang) in enumerate(zip(texts, langs))
    ]


def queries(seed: int, docs: list[dict], n: int) -> list[str]:
    """``n`` query texts: seeded 3-8 word prefixes of corpus documents."""
    rng = np.random.default_rng([seed, 7])
    out = []
    for i in rng.integers(0, len(docs), n):
        words = docs[int(i)]["document"]["text"].split()
        out.append(" ".join(words[: int(rng.integers(3, 9))]))
    return out
