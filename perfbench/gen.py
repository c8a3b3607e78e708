"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size arguments:
the same seed writes byte-identical parquet files. Inputs are made
once per run, before the session starts, and never inside a timed
window.

- ``tpch_tables``: the TPC-H-ish star schema plus ``events`` that the
  registry queries read (same column names, types and value domains
  as the reference test tables), at a chosen lineitem row count.
- ``corpus``: a Zipf-vocabulary document corpus in equal shards of
  consecutive ``doc_id``s, each with its own planted near-duplicate
  groups and a share of non-ASCII documents. Each row also carries a
  ``raw`` column of incompressible bytes, the way a crawl record
  carries its fetched payload; it makes the input's plan size cross
  the library's 128 MB gate while the text that the dedup operators
  read stays small enough for a short timed window.
- ``embeddings``: clustered vectors with the recipe of
  ``tools/scale_data._synth_embeddings`` (vec = ALPHA * center(label)
  + noise, components uniform in [-1, 1), dim 256, mean cluster size
  256), drawn from a seeded generator instead of xxhash64.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMB_DIM = 256
EMB_CLUSTER_SIZE = 256
EMB_ALPHA = 1.1

VOCAB = 50_000  # corpus vocabulary, Zipf(1.1)-ranked
DUP_SHARE = 0.1  # share of docs inside planted near-duplicate groups
NON_ASCII_SHARE = 0.1  # share of docs spelled in the non-ASCII alphabet
DOC_LEN = (40, 80)  # base doc length in tokens, inclusive

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_COLORS = ["blue", "red", "green", "small", "large", "steel", "brass", "copper"]
_THINGS = ["anvil", "widget", "ring", "bolt", "gear", "valve", "spring", "plate"]


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> int:
    pq.write_table(table, path, row_group_size=row_group_size)
    return os.path.getsize(path)


def _ts(base: datetime, offsets_s: np.ndarray) -> pa.Array:
    us = np.int64(int(base.timestamp())) * 1_000_000 + offsets_s.astype(np.int64)
    return pa.array(us, type=pa.timestamp("us"))


def tpch_tables(out_dir: str, seed: int, n_lineitem: int) -> dict:
    """Write the eight star-schema tables; returns {table: rows}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_orders = max(100, n_lineitem // 4)
    n_cust = max(50, n_orders // 10)
    n_part = max(50, n_lineitem // 30)
    n_supp = max(10, n_lineitem // 600)
    n_events = max(100, n_lineitem // 6)
    n_users = max(10, n_events // 66)
    day = 86_400 * 1_000_000
    rows = {}

    def put(name, cols):
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    names = np.array([f"{c} {t}" for c in _COLORS for t in _THINGS])
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    odate = rng.integers(0, 2400, n_orders) * day
    put("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(datetime(1995, 1, 1), odate),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    qty = rng.integers(1, 51, n_lineitem).astype(np.float64)
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_lineitem).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_lineitem).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lineitem).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lineitem), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lineitem) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lineitem) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lineitem)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lineitem)],
        "l_shipdate": _ts(datetime(1995, 1, 2), rng.integers(0, 2500, n_lineitem) * day),
    })
    ev_ts = np.sort(rng.integers(0, 30 * day, n_events))
    put("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(datetime(2024, 1, 1), ev_ts),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    return rows


def _vocab(size: int) -> tuple[np.ndarray, np.ndarray]:
    """(ascii, non_ascii) token spellings of token ids 0..size-1:
    base-20 digits over a Latin and a Cyrillic/Greek alphabet, all
    lowercase so the library's lower() leaves them unchanged."""
    lat = "abcdefghijklmnoprstu"
    cyr = "абвгдежзиклмнпрстαβγ"

    def spell(alpha, i):
        out = alpha[i % 20]
        i //= 20
        while i:
            out += alpha[i % 20]
            i //= 20
        return out + alpha[(len(out) * 7) % 20]

    return (
        np.array([spell(lat, i) for i in range(size)], dtype=object),
        np.array([spell(cyr, i) for i in range(size)], dtype=object),
    )


def corpus_docs(seed: int, shard: int, n_docs: int) -> dict:
    """Document texts plus the planted structure the checks need.

    A DUP_SHARE of the docs sit in planted groups of 2-4: one base doc
    and variants that each replace one token and append one, which
    keeps every in-group 3-gram Jaccard near or above 0.8 — the exact
    count above the threshold is what the checks compute
    independently. Tokens are Zipf(1.1)-ranked draws from a
    VOCAB-word vocabulary; a NON_ASCII_SHARE of the docs (whole groups
    together) are spelled in the non-ASCII alphabet."""
    rng = np.random.default_rng([seed, 2, shard])
    ascii_words, other_words = _vocab(VOCAB)
    cdf = np.cumsum(np.arange(1, VOCAB + 1, dtype=np.float64) ** -1.1)
    cdf /= cdf[-1]

    def draw(k):
        return np.minimum(np.searchsorted(cdf, rng.random(k)), VOCAB - 1)

    texts: list[str] = []
    group: list[int] = []  # planted group id, -1 for a unique doc
    non_ascii: list[bool] = []
    n_dup_target = int(n_docs * DUP_SHARE)
    gid = 0
    while len(texts) < n_docs:
        size = 1
        if n_dup_target > 0:
            size = int(rng.integers(2, 5))
            n_dup_target -= size
        size = min(size, n_docs - len(texts))
        base = draw(int(rng.integers(DOC_LEN[0], DOC_LEN[1] + 1)))
        words = other_words if rng.random() < NON_ASCII_SHARE else ascii_words
        for m in range(size):
            toks = base.copy()
            if m:
                toks[rng.integers(0, len(toks))] = draw(1)[0]
                toks = np.append(toks, draw(1))
            texts.append(" ".join(words[toks]))
            group.append(gid if size > 1 else -1)
            non_ascii.append(words is other_words)
        gid += 1
    # interleave so planted groups do not sit in one partition
    order = rng.permutation(n_docs)
    return {
        "text": [texts[i] for i in order],
        "group": np.array(group)[order],
        "non_ascii": np.array(non_ascii)[order],
    }


def corpus(out_path: str, seed: int, shards: int, shard_docs: int, raw_bytes: int) -> dict:
    """Write the corpus parquet (doc_id, text, raw); shard s holds
    doc_ids [s * shard_docs, (s + 1) * shard_docs), in its own row
    groups, and no planted group crosses a shard. Returns the texts,
    planted group ids (unique across shards, -1 for a unique doc) and
    non-ASCII flags by doc_id, plus rows/bytes for the workload
    record."""
    parts = [corpus_docs(seed, s, shard_docs) for s in range(shards)]
    docs = {
        "text": [t for p in parts for t in p["text"]],
        "group": np.concatenate([
            np.where(p["group"] >= 0, p["group"] + s * shard_docs, -1)
            for s, p in enumerate(parts)
        ]),
        "non_ascii": np.concatenate([p["non_ascii"] for p in parts]),
    }
    n_docs = shards * shard_docs
    rng = np.random.default_rng([seed, 3])
    per_row = max(0, raw_bytes // n_docs)
    blob = rng.bytes(per_row * n_docs)
    raw = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(per_row), n_docs, [None, pa.py_buffer(blob)]
    ) if per_row else pa.nulls(n_docs, pa.binary())
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": docs["text"],
        "raw": raw.cast(pa.binary()),
    })
    docs["bytes"] = _write(table, out_path, row_group_size=max(1, shard_docs // 2))
    docs["rows"] = n_docs
    return docs


def embeddings(out_path: str, seed: int, n: int) -> dict:
    """Write (vec_id, embedding, label) with planted clusters."""
    rng = np.random.default_rng([seed, 4])
    n_clusters = max(64, n // EMB_CLUSTER_SIZE)
    centers = rng.uniform(-1.0, 1.0, (n_clusters, EMB_DIM))
    label = rng.integers(0, n_clusters, n)
    vecs = (EMB_ALPHA * centers[label] + rng.uniform(-1.0, 1.0, (n, EMB_DIM)))
    vecs = vecs.astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM)
    table = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    size = _write(table, out_path, row_group_size=max(1, n // 8))
    return {"rows": n, "bytes": size, "vectors": vecs, "clusters": n_clusters}
