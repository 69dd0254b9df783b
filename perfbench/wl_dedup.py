"""``text_dedup`` part of ``analytics_batch``: the dedup and similarity
operators on a seeded corpus
with injected exact and near duplicates, and on embeddings with injected
near-copies.

Each round: ``exact_dedup_keep_ids``, ``ngram_jaccard_pairs`` and
``lsh_cosine_pairs``, each collected to the client; then
``connected_components`` over the n-gram pair graph (far below the CC
driver gate, so it takes the driver path), and one commit of the
cluster labels through ``save_graph``.

``edit_distance_pairs`` and ``blocked_edit_distance_pairs`` are not in
the op list yet: both raise ``NameError: _char_hist_packed`` at the
commit this benchmark was written against, and timing them now would
make their fix read as a ``wall_s`` regression.
"""

from __future__ import annotations

import os

import numpy as np

import inputs

SHINGLE_K = 5
JACCARD = 0.5
COSINE = 0.9


def shingles(text: str) -> set:
    """Distinct k-character shingles, as ``dedup.shingle_hash_rows``
    cuts them (a text shorter than k is its own single shingle)."""
    return {text[i:i + SHINGLE_K] for i in range(max(len(text) - SHINGLE_K + 1, 1))}


def jaccard_pairs(texts: dict) -> dict:
    """Exact all-pairs k-shingle Jaccard ≥ threshold: {(i, j): jac}."""
    ids = sorted(texts)
    sets = [shingles(texts[i]) for i in ids]
    vocab: dict = {}
    rows, cols = [], []
    for r, s in enumerate(sets):
        for sh in s:
            rows.append(r)
            cols.append(vocab.setdefault(sh, len(vocab)))
    rows, cols = np.array(rows), np.array(cols)
    n = len(ids)
    inter = np.zeros((n, n))
    block = 8192
    for lo in range(0, len(vocab), block):
        sel = (cols >= lo) & (cols < lo + block)
        m = np.zeros((n, block), dtype=np.float32)
        m[rows[sel], cols[sel] - lo] = 1.0
        inter += m @ m.T
    size = np.array([len(s) for s in sets], dtype=np.float64)
    jac = inter / (size[:, None] + size[None, :] - inter)
    ii, jj = np.nonzero(np.triu(jac >= JACCARD - 1e-12, k=1))
    return {(ids[a], ids[b]): float(jac[a, b]) for a, b in zip(ii, jj)}


class TextDedup:
    name = "text_dedup"
    settings = {"shingle_k": SHINGLE_K, "jaccard_threshold": JACCARD,
                "cosine_threshold": COSINE,
                "exact_copy_share": inputs.EXACT_COPY_SHARE,
                "near_copy_share": inputs.NEAR_COPY_SHARE}

    def __init__(self, bench):
        self.bench = bench
        self.data = os.path.join(bench.work, self.name, "data")
        self.store = os.path.join(bench.work, self.name, "store")
        self.results: list = []
        self.pair_counts: list = []

    def prepare(self) -> None:
        os.makedirs(self.data)
        self.truth, rec = inputs.corpus(self.data, self.bench.seed)
        self.bench.record_inputs(rec)
        spark = self.bench.spark
        self.docs = spark.read.parquet(os.path.join(self.data, "documents.parquet"))
        self.emb = spark.read.parquet(os.path.join(self.data, "embeddings.parquet"))

    @staticmethod
    def _ops(docs, emb) -> dict:
        """The independent ops of a round, each collected to the client."""
        from rust_graph_db_spark.operators import dedup, similarity

        rows = lambda df: [tuple(r) for r in df.collect()]  # noqa: E731
        return {
            "exact_dedup_keep_ids": lambda: [
                r[0] for r in dedup.exact_dedup_keep_ids(docs, "doc_id", "text").collect()],
            "ngram_jaccard_pairs": lambda: rows(dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", k=SHINGLE_K, threshold=JACCARD)),
            "lsh_cosine_pairs": lambda: rows(similarity.lsh_cosine_pairs(
                emb, COSINE, inputs.EMB_DIM, id_col="vec_id", vec_col="embedding")),
        }

    def round(self) -> None:
        out = {name: self.bench.op(name, fn)[0]
               for name, fn in self._ops(self.docs, self.emb).items()}
        union = sorted({(int(i), int(j)) for i, j, _ in out["ngram_jaccard_pairs"] or []})
        cc = self._cluster(union)
        self.results.append((out["exact_dedup_keep_ids"], out["ngram_jaccard_pairs"],
                             out["lsh_cosine_pairs"], union, cc))

    def _cluster(self, union: list):
        """Connected components over the pair union, then the commit."""
        from rust_graph_db_spark.operators import graph_algos

        spark = self.bench.spark
        cc, _ = self.bench.op("cluster_pairs", lambda: [
            tuple(r) for r in graph_algos.connected_components(
                spark.createDataFrame(union or [(0, 0)], "i LONG, j LONG")).collect()])
        if cc is not None:
            self.bench.op("commit:clusters", lambda: self._commit(cc), kind="write")
        return cc

    def _commit(self, cc: list) -> int:
        from rust_graph_db_spark import PropertyGraph, storage

        g = PropertyGraph(self.bench.spark, name="dedup_clusters")
        g.put_vertices("Doc", self.bench.spark.createDataFrame(
            cc, "doc_id LONG, cluster LONG"), locid_col="doc_id")
        return storage.save_graph(g, self.store)

    # ------------------------------------------------------------ checks
    def check(self) -> None:
        import networkx as nx
        import pandas as pd

        texts = self.truth["texts"]
        docs = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
        want_kept = set(docs.groupby("text")["doc_id"].min().tolist())
        want_jac = jaccard_pairs(texts)
        exact = set(self.truth["exact_pairs"])
        injected = exact | set(self.truth["near_pairs"])
        emb = self.truth["emb"].astype(np.float64)
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        wrong = self.bench.wrong
        for kept, ngram, cosine, union, cc in self.results:
            if kept is not None and set(kept) != want_kept:
                wrong("exact_dedup_keep_ids", f"{len(kept)} ids vs {len(want_kept)}")
            if ngram is not None:
                got = {(i, j): jac for i, j, jac in ngram}
                if got.keys() != want_jac.keys() or any(
                        abs(got[p] - want_jac[p]) > 1e-9 for p in got):
                    wrong("ngram_jaccard_pairs", f"{len(got)} pairs vs {len(want_jac)}")
            if cosine is not None and any(
                    float(emb[i] @ emb[j]) < COSINE - 1e-4 for i, j, _ in cosine):
                wrong("lsh_cosine_pairs", "a pair below the cosine threshold")
            if cc is not None:
                g = nx.Graph()
                g.add_edges_from(union)
                want = {n: min(c) for c in nx.connected_components(g) for n in c}
                if dict(cc) != want:
                    wrong("cluster_pairs", "clusters differ from networkx")
            found = set(union) & injected
            if not exact <= found:
                wrong("ngram_jaccard_pairs", "an injected exact copy was not paired")
            self.pair_counts.append((len(union), len(cosine or []),
                                     len(found) / max(len(injected), 1)))

    def layer_values(self) -> dict:
        if not self.pair_counts:
            return {}
        union, cos, recall = self.pair_counts[-1]
        return {"dedup.pairs": union, "similarity.pairs": cos,
                "dedup.injected_recall": recall}
