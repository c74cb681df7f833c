"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The engine only ever sees what these functions write (parquet
tables, the corpus frame) or send (HTTP event bodies).

- ``write_tables``: the ten star-schema / events / documents / embeddings
  tables the query registry reads, in the fixture schemas FIXTURES.md
  lists, at about the sf0.01 row counts.
- ``corpus``: a token-soup corpus with planted exact duplicates, planted
  near duplicates and an eval set drawn from it.
- ``events``: a heartbeat event stream over a set of app ids with a
  planted share of malformed events (``value`` missing).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "dark")
NOUN = ("ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

#: row counts at scale 1.0 of this generator (the sf0.01 fixture shape)
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}


def _ts_us(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch_us + (seconds * 1_000_000).astype(np.int64), type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def doc_texts(rng: np.random.Generator, n: int, min_len: int = 10, max_len: int = 100) -> list[str]:
    """``n`` space-joined token soups over :data:`VOCAB`."""
    lens = rng.integers(min_len, max_len + 1, size=n)
    toks = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[t] for t in toks[pos : pos + k]))
        pos += k
    return out


def write_tables(out: str, seed: int, scale: float = 1.0) -> None:
    """Write the ten fixture tables under ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(int(v * scale), 50) for k, v in ROWS.items()}
    n["supplier"] = max(n["supplier"], 25)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts_us(dt.datetime(1995, 1, 1), odays * 86400.0),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    lord = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts_us(
            dt.datetime(1995, 1, 1), (odays[lord] + rng.integers(1, 122, nl)) * 86400.0
        ),
    })
    ne = n["events"]
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts_us(dt.datetime(2024, 1, 1), np.sort(rng.uniform(0, 30 * 86400.0, ne))),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    docs = corpus(seed + 1, n["documents"], exact_frac=0.02, near_frac=0.05)
    _write(out, "documents", {
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": docs["text"],
        "lang": docs["lang"],
        "source": docs["source"],
        "n_chars": pa.array([len(t) for t in docs["text"]], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.normal(size=(nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })


def corpus(seed: int, n_docs: int, exact_frac: float = 0.02, near_frac: float = 0.02,
           n_eval: int = 25) -> dict:
    """A corpus of ``n_docs`` documents with planted duplicates.

    ``exact_frac`` of the ids are exact copies of a random earlier base
    document, ``near_frac`` are near copies (the base text plus one
    appended token, 3-gram Jaccard well above 0.5). Bases are drawn from
    the independently generated documents only, so every planted copy
    has exactly one base. ``eval_ids`` are distinct base documents whose
    texts form the decontamination eval set."""
    rng = np.random.default_rng(seed)
    n_exact = int(n_docs * exact_frac)
    n_near = int(n_docs * near_frac)
    n_base = n_docs - n_exact - n_near
    texts = doc_texts(rng, n_base)
    bases = rng.choice(n_base, size=n_exact + n_near, replace=False)
    exact_pairs, near_pairs = [], []
    for k, b in enumerate(bases):
        new_id = n_base + k
        if k < n_exact:
            texts.append(texts[b])
            exact_pairs.append((int(b), new_id))
        else:
            texts.append(texts[b] + " " + VOCAB[int(rng.integers(len(VOCAB)))])
            near_pairs.append((int(b), new_id))
    planted = set(bases.tolist())
    eval_ids = [int(i) for i in rng.permutation(n_base) if int(i) not in planted][:n_eval]
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, size=n_docs, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
        "eval_ids": sorted(eval_ids),
    }


def events(seed: int, n_events: int, n_apps: int, malformed_frac: float = 0.02) -> list[dict]:
    """``n_events`` heartbeat bodies in send order. ``seq`` is the send
    index; ``value`` is missing on the planted malformed share."""
    rng = np.random.default_rng(seed)
    apps = rng.integers(0, n_apps, n_events)
    kinds = rng.choice(["ok", "ok", "ok", "started", "degraded"], size=n_events)
    vals = rng.integers(1, 1000, n_events)
    bad = set(rng.choice(n_events, size=int(n_events * malformed_frac), replace=False).tolist())
    out = []
    for i in range(n_events):
        ev = {"seq": i, "app": f"app{apps[i]:04d}", "event": str(kinds[i])}
        if i not in bad:
            ev["value"] = int(vals[i])
        out.append(ev)
    return out
