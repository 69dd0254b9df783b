"""Seeded input generators for the three workloads.

Everything here is numpy/pyarrow only, so a change to the package under
test cannot change what it is fed. The same seed always yields the same
parquet bytes' worth of rows (the files themselves are rewritten on every
run and charged to ``setup_s``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes
# Chosen so one run of each workload (JVM start, inputs, the untimed
# round and the timed phase) fits the run budget at local[4]; see
# BENCHMARK.json.
TPCH_SIZES = dict(customer=3_000, supplier=100, part=2_000, orders=15_000)
GRAPH_VERTICES = 20_000
GRAPH_EDGES = 100_000
CORPUS_BASE_DOCS = 600
EXACT_COPY_SHARE = 0.05
NEAR_COPY_SHARE = 0.20
EMB_BASE = 600
EMB_DIM = 32

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _write(out_dir: str, name: str, table: pa.Table) -> dict:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


# ---------------------------------------------------------------- tpch-like
def tpch_tables(out_dir: str, seed: int) -> dict:
    """TPC-H-shaped star schema with the column names and types the
    package's ``graphs.tpch_graph``/``knows_graph`` builders read.
    Keys are 0-based and dense. Returns {table: {rows, bytes}}."""
    rng = np.random.default_rng(seed)
    n_c, n_s = TPCH_SIZES["customer"], TPCH_SIZES["supplier"]
    n_p, n_o = TPCH_SIZES["part"], TPCH_SIZES["orders"]
    rec = {}
    rec["region"] = _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS}))
    rec["nation"] = _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}))
    ck = np.arange(n_c, dtype=np.int64)
    rec["customer"] = _write(out_dir, "customer", pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:06d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)]}))
    sk = np.arange(n_s, dtype=np.int64)
    rec["supplier"] = _write(out_dir, "supplier", pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:06d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2)}))
    pk = np.arange(n_p, dtype=np.int64)
    retail = np.round(900 + (pk % 1000) + rng.uniform(0, 100, n_p), 2)
    rec["part"] = _write(out_dir, "part", pa.table({
        "p_partkey": pk,
        "p_name": [f"part {k}" for k in pk],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_p)],
        "p_type": [f"TYPE{t}" for t in rng.integers(0, 30, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": retail}))
    ok = np.arange(n_o, dtype=np.int64)
    n_lines = rng.integers(1, 8, n_o)
    l_ok = np.repeat(ok, n_lines)
    l_ln = np.concatenate([np.arange(1, n + 1) for n in n_lines]).astype(np.int32)
    n_l = len(l_ok)
    l_pk = rng.integers(0, n_p, n_l)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    ext = np.round(qty * retail[l_pk], 2)
    disc = np.round(rng.integers(0, 11, n_l) / 100.0, 2)
    total = np.round(np.bincount(l_ok, weights=ext * (1 - disc), minlength=n_o), 2)
    base_ts = np.datetime64("1992-01-01", "us")
    o_date = base_ts + rng.integers(0, 2400, n_o).astype("timedelta64[D]")
    rec["orders"] = _write(out_dir, "orders", pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": total,
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)]}))
    rec["lineitem"] = _write(out_dir, "lineitem", pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_pk,
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": pa.array(l_ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": pa.array(np.repeat(o_date, n_lines)
                               + rng.integers(1, 122, n_l).astype("timedelta64[D]"),
                               pa.timestamp("us"))}))
    return rec


# ---------------------------------------------------------------- power-law graph
def powerlaw_edges(out_dir: str, seed: int) -> tuple[np.ndarray, np.ndarray, dict]:
    """Directed edge list with heavy in-degree skew: src uniform,
    dst = floor(V * u**3), so low ids collect most in-edges.
    Duplicate edges and self-loops are kept (the operators must handle
    both). Returns (src, dst, {edges: {rows, bytes}})."""
    v, e = GRAPH_VERTICES, GRAPH_EDGES
    rng = np.random.default_rng(seed)
    src = rng.integers(0, v, e, dtype=np.int64)
    dst = np.minimum((v * rng.random(e) ** 3).astype(np.int64), v - 1)
    rec = {"edges": _write(out_dir, "edges", pa.table({"src": src, "dst": dst}))}
    return src, dst, rec


# ---------------------------------------------------------------- corpus
_VOCAB = [f"w{i}" for i in range(4_000)]


def _edit_words(words: list, rng, n_edits: int) -> list:
    out = list(words)
    for _ in range(n_edits):
        out[int(rng.integers(0, len(out)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
    return out


def corpus(out_dir: str, seed: int) -> tuple[dict, dict]:
    """Documents plus injected duplicates, and embeddings plus injected
    near-copies.

    Base documents draw 40-80 words from a Zipf-like vocabulary. About
    5% of the corpus is exact copies of a base document and about 20% is
    near-copies with 1-3 word replacements. Returns (truth, record):
    ``truth`` holds the injected (original, copy) id pairs and the
    embedding matrix for the reference checks."""
    n, m = CORPUS_BASE_DOCS, EMB_BASE
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, len(_VOCAB) + 1)
    weights /= weights.sum()
    texts = []
    for _ in range(n):
        idx = rng.choice(len(_VOCAB), size=int(rng.integers(40, 81)), p=weights)
        texts.append([_VOCAB[i] for i in idx])
    total = int(round(n / (1 - EXACT_COPY_SHARE - NEAR_COPY_SHARE)))
    n_exact = int(round(total * EXACT_COPY_SHARE))
    n_near = total - n - n_exact
    exact_pairs, near_pairs = [], []
    for _ in range(n_exact):
        o = int(rng.integers(0, n))
        exact_pairs.append((o, len(texts)))
        texts.append(list(texts[o]))
    for _ in range(n_near):
        o = int(rng.integers(0, n))
        near_pairs.append((o, len(texts)))
        texts.append(_edit_words(texts[o], rng, int(rng.integers(1, 4))))
    # Shuffle ids so copies do not sit next to their originals.
    perm = rng.permutation(len(texts))
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[perm] = np.arange(len(texts))
    body = [" ".join(t) for t in texts]
    order = np.argsort(doc_id)
    rec = {"documents": _write(out_dir, "documents", pa.table({
        "doc_id": doc_id[order],
        "text": [body[i] for i in order]}))}

    base = rng.normal(size=(m, EMB_DIM))
    n_emb_copies = m // 4
    orig = rng.integers(0, m, n_emb_copies)
    copies = base[orig] + rng.normal(scale=0.05, size=(n_emb_copies, EMB_DIM))
    emb = np.vstack([base, copies]).astype(np.float32)
    emb_pairs = [(int(o), m + i) for i, o in enumerate(orig)]
    rec["embeddings"] = _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(len(emb), dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32()))}))

    def remap(pairs):
        return [tuple(sorted((int(doc_id[a]), int(doc_id[b])))) for a, b in pairs]

    truth = {"texts": dict(zip(doc_id.tolist(), body)),
             "exact_pairs": remap(exact_pairs), "near_pairs": remap(near_pairs),
             "emb": emb, "emb_pairs": emb_pairs}
    return truth, rec
