"""``graph_pregel`` part of ``analytics_batch``: the iterative graph
operators on a seeded power-law graph. The session runs with broadcast
joins off, so every superstep join takes the shuffle path a
cluster-scale edge table takes.

Each round: ``bfs_distances`` from 4 seeded sources, ``pagerank`` (10
iterations) and ``connected_components``, each collected to the client,
then one commit of the ranks and components as vertex properties
through ``save_graph``.
BFS and CC are called with ``driver_threshold=0`` so their distributed
superstep loops run at this graph size instead of the collect-to-driver
path.
"""

from __future__ import annotations

import os

import numpy as np

import inputs

SOURCES = 4
MAX_HOPS = 4
PR_ITERATIONS = 10
DAMPING = 0.85


class GraphPregel:
    name = "graph_pregel"
    settings = {"bfs_sources": SOURCES, "bfs_max_hops": MAX_HOPS,
                "pagerank_iterations": PR_ITERATIONS, "driver_threshold": 0,
                "vertices": inputs.GRAPH_VERTICES, "edges": inputs.GRAPH_EDGES}

    def __init__(self, bench):
        self.bench = bench
        self.data = os.path.join(bench.work, self.name, "data")
        self.store = os.path.join(bench.work, self.name, "store")
        self.results: list = []
        self.committed = None          # the vertex rows of the last commit

    def prepare(self) -> None:
        os.makedirs(self.data)
        self.src, self.dst, rec = inputs.powerlaw_edges(self.data, self.bench.seed)
        self.bench.record_inputs(rec)
        rng = np.random.default_rng(self.bench.seed)
        self.sources = sorted(int(s) for s in rng.choice(np.unique(self.src), SOURCES,
                                                         replace=False))
        self.edges = self.bench.spark.read.parquet(os.path.join(self.data, "edges.parquet"))

    @staticmethod
    def _ops(edges, sources) -> dict:
        from rust_graph_db_spark.operators import graph_algos, traversal

        return {
            "bfs_distances": lambda: traversal.bfs_distances(
                edges, sources, max_hops=MAX_HOPS, driver_threshold=0).toPandas(),
            "pagerank": lambda: graph_algos.pagerank(
                edges, iterations=PR_ITERATIONS, damping=DAMPING).toPandas(),
            "connected_components": lambda: graph_algos.connected_components(
                edges, driver_threshold=0).toPandas(),
        }

    def round(self) -> None:
        out = {name: self.bench.op(name, fn)[0]
               for name, fn in self._ops(self.edges, self.sources).items()}
        self.results.append((out["bfs_distances"], out["pagerank"],
                             out["connected_components"]))
        pr, cc = out["pagerank"], out["connected_components"]
        if pr is not None and cc is not None:
            verts = pr.merge(cc, on="id").rename(columns={"id": "vid"})
            if self.bench.op("commit:ranks", lambda: self._commit(verts), kind="write")[0] \
                    is not None:
                self.committed = verts

    def _commit(self, verts) -> int:
        from rust_graph_db_spark import PropertyGraph, storage

        spark = self.bench.spark
        g = PropertyGraph(spark, name="ranks")
        g.put_vertices("V", spark.createDataFrame(verts), locid_col="vid")
        return storage.save_graph(g, self.store)

    # ------------------------------------------------------------ checks
    def check(self) -> None:
        import networkx as nx

        v = inputs.GRAPH_VERTICES
        g = nx.DiGraph()
        g.add_edges_from(zip(self.src.tolist(), self.dst.tolist()))
        want_bfs = {}
        for s in self.sources:
            for node, d in nx.single_source_shortest_path_length(g, s, cutoff=MAX_HOPS).items():
                want_bfs[(s, node)] = d
        # PageRank, GraphX convention: r0 = 1, r' = (1-d) + d * sum(r/outdeg)
        # over the vertices that appear in the edge list.
        verts = np.unique(np.concatenate([self.src, self.dst]))
        outdeg = np.bincount(self.src, minlength=v).astype(np.float64)
        r = np.ones(v)
        for _ in range(PR_ITERATIONS):
            contrib = np.bincount(self.dst, weights=r[self.src] / outdeg[self.src], minlength=v)
            r = (1 - DAMPING) + DAMPING * contrib
        want_pr = dict(zip(verts.tolist(), r[verts].tolist()))
        want_cc = {}
        for comp in nx.weakly_connected_components(g):
            m = min(comp)
            for node in comp:
                want_cc[node] = m
        for bfs, pr, cc in self.results:
            if bfs is not None:
                got = {(int(a), int(b)): int(d) for a, b, d in
                       zip(bfs["start_id"], bfs["id"], bfs["dist"])}
                if got != want_bfs:
                    self.bench.wrong("bfs_distances", f"{len(got)} rows vs {len(want_bfs)}")
            if pr is not None:
                got = dict(zip(pr["id"].tolist(), pr["rank"].tolist()))
                if got.keys() != want_pr.keys() or any(
                        abs(got[k] - want_pr[k]) > 1e-6 * max(1.0, want_pr[k]) for k in got):
                    self.bench.wrong("pagerank", "ranks differ from the power iteration")
            if cc is not None:
                got = dict(zip(cc["id"].tolist(), cc["component"].tolist()))
                if got != want_cc:
                    self.bench.wrong("connected_components", "components differ")
        self._check_store()

    def _check_store(self) -> None:
        """The store's latest snapshot holds exactly the last committed rows."""
        from rust_graph_db_spark import storage

        if self.committed is None:
            self.bench.wrong("commit:ranks", "no commit succeeded")
            return
        cols = ["vid", "rank", "component"]
        try:
            got = storage.load_graph(self.bench.spark, self.store).vertex_frame("V") \
                .select(*cols).toPandas()
        except Exception as exc:  # a broken store is a wrong output
            self.bench.wrong("commit:ranks", f"load_graph: {type(exc).__name__}")
            return
        rows = lambda df: sorted(zip(*(df[c].tolist() for c in cols)))  # noqa: E731
        if rows(got) != rows(self.committed):
            self.bench.wrong("commit:ranks", "stored ranks differ from the last commit")

    def layer_values(self) -> dict:
        return {}
