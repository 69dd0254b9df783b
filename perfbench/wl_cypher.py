"""``cypher_mixed``: a seeded closed-loop stream of parameterised Cypher
reads over ``knows_graph`` and ``tpch_graph``, with DML writes at about
one in five and a commit (``save_graph`` → ``load_graph`` → one read) at
the end of every block.

Writes only touch Person vertices in a reserved name space (age ≥ 200,
city 'Nowhere', KNOWS edges with since 1999) that no read template can
match, so every read has a fixed DuckDB reference over the generated
parquet while the writes still rewrite the label frames the reads scan.
"""

from __future__ import annotations

import math
import os
import random

import inputs
from common import dir_size

CITIES = ["NYC", "LA", "Chicago", "Houston", "Phoenix"]

# name -> (graph, cypher, reference SQL, ordered)
READS = {
    "scan_filter": (
        "knows",
        "MATCH (p:Person) WHERE p.age >= $lo AND p.age < $hi AND p.city = $city "
        "RETURN p.name AS name",
        "SELECT name FROM person WHERE age >= $lo AND age < $hi AND city = $city",
        False),
    "one_hop": (
        "knows",
        "MATCH (a:Person)-[r:KNOWS]->(b:Person) WHERE r.since = $year AND a.age = $age "
        "RETURN a.name AS a, b.name AS b",
        "SELECT pa.name, pb.name FROM knows k JOIN person pa ON k.src = pa.key "
        "JOIN person pb ON k.dst = pb.key WHERE k.since = $year AND pa.age = $age",
        False),
    "three_hop": (
        "knows",
        "MATCH (a:Person {name: $name})-[:KNOWS]->(b:Person)-[:KNOWS]->(c:Person)"
        "-[:KNOWS]->(d:Person) RETURN d.name AS name",
        "SELECT pd.name FROM person pa JOIN knows k1 ON k1.src = pa.key "
        "JOIN knows k2 ON k2.src = k1.dst JOIN knows k3 ON k3.src = k2.dst "
        "JOIN person pd ON pd.key = k3.dst WHERE pa.name = $name",
        False),
    "optional": (
        "knows",
        "MATCH (a:Person) WHERE a.age = $age AND a.city = $city "
        "OPTIONAL MATCH (a)-[:KNOWS]->(b:Person) WHERE b.active "
        "RETURN a.name AS a, b.name AS b",
        "SELECT pa.name, pb.name FROM person pa LEFT JOIN "
        "(SELECT k.src, p.name FROM knows k JOIN person p ON k.dst = p.key "
        " WHERE p.active) pb ON pb.src = pa.key "
        "WHERE pa.age = $age AND pa.city = $city",
        False),
    "aggregate": (
        "knows",
        "MATCH (a:Person)-[:KNOWS]->(b:Person) WHERE a.city = $city "
        "RETURN b.city AS city, count(*) AS n",
        "SELECT pb.city, count(*) FROM knows k JOIN person pa ON k.src = pa.key "
        "JOIN person pb ON k.dst = pb.key WHERE pa.city = $city GROUP BY pb.city",
        False),
    "top_k": (
        "tpch",
        "MATCH (c:Customer) WHERE c.mktsegment = $seg "
        "RETURN c.name AS name, c.acctbal AS bal ORDER BY bal DESC, name LIMIT 10",
        "SELECT c_name, c_acctbal FROM customer WHERE c_mktsegment = $seg "
        "ORDER BY c_acctbal DESC, c_name LIMIT 10",
        True),
    "vle": (
        "knows",
        "MATCH (a:Person {name: $name})-[:KNOWS*1..3]->(b:Person) "
        "RETURN DISTINCT b.name AS name",
        "WITH RECURSIVE r(key, d) AS ("
        " SELECT k.dst, 1 FROM knows k JOIN person p ON k.src = p.key WHERE p.name = $name"
        " UNION ALL SELECT k.dst, r.d + 1 FROM r JOIN knows k ON k.src = r.key WHERE r.d < 3)"
        " SELECT DISTINCT p.name FROM r JOIN person p ON p.key = r.key",
        False),
    "region_2hop": (
        "tpch",
        "MATCH (c:Customer)-[:IN_NATION]->(n:Nation)-[:IN_REGION]->(r:Region) "
        "WHERE r.name = $region RETURN n.name AS nation, count(c) AS n",
        "SELECT n_name, count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = $region GROUP BY n_name",
        False),
    "order_totals": (
        "tpch",
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.key >= $lo AND c.key < $hi "
        "RETURN c.name AS name, count(o) AS orders, sum(o.totalprice) AS total",
        "SELECT c_name, count(*), sum(o_totalprice) FROM customer "
        "JOIN orders ON o_custkey = c_custkey WHERE c_custkey >= $lo AND c_custkey < $hi "
        "GROUP BY c_name",
        False),
    "lineitem_pricing": (
        "tpch",
        "MATCH (o:Order)-[h:HAS_ITEM]->(p:Part) WHERE o.key = $key "
        "RETURN p.name AS part, h.extendedprice * (1 - h.discount) AS price",
        "SELECT p_name, l_extendedprice * (1 - l_discount) FROM lineitem "
        "JOIN part ON l_partkey = p_partkey WHERE l_orderkey = $key",
        False),
}

WRITES = {
    "create": "CREATE (a:Person {name: $a, age: 200, city: 'Nowhere'})"
              "-[:KNOWS {since: 1999}]->(b:Person {name: $b, age: 200, city: 'Nowhere'})",
    "set": "MATCH (p:Person {name: $name}) SET p.age = p.age + 1",
    "merge": "MERGE (p:Person {name: $name}) ON CREATE SET p.age = 250, p.city = 'Nowhere' "
             "ON MATCH SET p.age = p.age + 10",
    "delete": "MATCH (p:Person {name: $name}) DETACH DELETE p",
}

# One block: every read template twice (two passes, fresh parameters)
# with a write after every fourth read, then the commit and one read of
# the reloaded graph. Two reads per template give each template's
# median two samples even in a run that times a single block.
PASSES = 2


def read_params(name: str, rng: random.Random) -> dict:
    """Seeded parameters for one read. A Person's age, city and KNOWS
    year all follow from its key mod 60, so the draws that combine them
    pick a consistent triple: every read of a template then matches the
    same number of rows, whatever the seed."""
    n_c = inputs.TPCH_SIZES["customer"]
    lo = rng.randrange(20, 70)
    age = rng.randrange(20, 80)
    return {
        "scan_filter": lambda: {"lo": lo, "hi": lo + 10, "city": rng.choice(CITIES)},
        "one_hop": lambda: {"year": 2020 + (age - 20) % 5, "age": age},
        "three_hop": lambda: {"name": f"Person{rng.randrange(n_c)}"},
        "optional": lambda: {"age": age, "city": CITIES[(age - 20) % 5]},
        "aggregate": lambda: {"city": rng.choice(CITIES)},
        "top_k": lambda: {"seg": rng.choice(inputs.SEGMENTS)},
        "vle": lambda: {"name": f"Person{rng.randrange(n_c)}"},
        "region_2hop": lambda: {"region": rng.choice(inputs.REGIONS)},
        "order_totals": lambda: (lambda k: {"lo": k, "hi": k + 40})(rng.randrange(n_c - 40)),
        "lineitem_pricing": lambda: {"key": rng.randrange(inputs.TPCH_SIZES["orders"])},
    }[name]()


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "item"):
        return _norm(v.item())
    return v


def rows_key(rows, ordered: bool):
    out = [tuple(_norm(x) for x in r) for r in rows]
    return out if ordered else sorted(out, key=repr)


def rows_equal(got, want) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True


class CypherMixed:
    name = "cypher_mixed"
    settings = {"reads_per_block": PASSES * len(READS), "writes_per_block": len(WRITES)}

    def __init__(self, bench):
        self.bench = bench
        self.rng = random.Random(bench.seed)
        self.data = os.path.join(bench.work, self.name, "data")
        self.store = os.path.join(bench.work, self.name, "store")
        self.checked: list = []        # (op, template, params, rows)
        self.expected: dict = {}       # reserved name -> age, None once deleted
        self.live: list = []           # reserved names not yet deleted
        self.n_names = 0
        self.blocks = 0
        self.input_bytes = 0
        self.commit_sizes: list = []
        self.saved = None              # the live graph of the last commit

    # ------------------------------------------------------------ setup
    def prepare(self) -> None:
        from rust_graph_db_spark.graphs import knows_graph, tpch_graph

        os.makedirs(self.data)
        rec = inputs.tpch_tables(self.data, self.bench.seed)
        self.bench.record_inputs(rec)
        self.input_bytes = rec["customer"]["bytes"]
        spark = self.bench.spark
        self.graphs = {"knows": knows_graph(spark, self.data),
                       "tpch": tpch_graph(spark, self.data)}
        # One create fills the session graph's id counter (once per
        # session) and gives the first block's SET, MERGE and DELETE a
        # target.
        self._write("create")

    # ------------------------------------------------------------ one block
    def _name(self) -> str:
        self.n_names += 1
        return f"W{self.n_names}"

    def _reader(self, template: str, graph=None):
        """(call, params) for one read of ``template``."""
        gname, cypher, _, _ = READS[template]
        g = graph or self.graphs[gname]
        params = read_params(template, self.rng)
        return lambda: [tuple(r) for r in g.cypher(cypher, params).collect()], params

    def _read(self, template: str, graph=None) -> None:
        call, params = self._reader(template, graph)
        rows, _ = self.bench.op(f"read:{template}", call, kind="read")
        if rows is not None:
            self.checked.append((f"read:{template}", template, params, rows))

    def _write(self, kind: str) -> None:
        g = self.graphs["knows"]
        # The set-up create leaves two names and a block deletes one, so
        # SET, MERGE and DELETE always find a target; the fallback to a
        # create only guards a failed set-up create.
        if kind == "create" or not self.live:
            kind = "create"
            a, b = self._name(), self._name()
            params = {"a": a, "b": b}
        elif kind == "merge":
            # the create arm in odd blocks, the match arm in even ones
            name = self._name() if self.blocks % 2 else self.rng.choice(self.live)
            params = {"name": name}
        else:
            params = {"name": self.rng.choice(self.live)}
        out, _ = self.bench.op(f"write:{kind}",
                               lambda: g.cypher(WRITES[kind], params).collect(), kind="write")
        if out is None:
            return
        if kind == "create":
            for n in (params["a"], params["b"]):
                self.expected[n] = 200
                self.live.append(n)
        elif kind == "set":
            self.expected[params["name"]] += 1
        elif kind == "merge":
            n = params["name"]
            if n in self.live:
                self.expected[n] += 10
            else:
                self.expected[n] = 250
                self.live.append(n)
        elif kind == "delete":
            self.expected[params["name"]] = None
            self.live.remove(params["name"])

    def _commit(self) -> None:
        from rust_graph_db_spark import storage

        spark = self.bench.spark
        live = self.graphs["knows"]

        def commit():
            storage.save_graph(live, self.store)
            return storage.load_graph(spark, self.store)

        before = set(os.listdir(os.path.join(self.store, "data"))) \
            if os.path.isdir(os.path.join(self.store, "data")) else set()
        loaded, _ = self.bench.op("write:commit", commit, kind="write")
        if loaded is None:
            return
        # the session goes on with the reopened snapshot; the graph that
        # was committed is kept for the store check
        self.saved, self.graphs["knows"] = live, loaded
        new = set(os.listdir(os.path.join(self.store, "data"))) - before
        for d in new:
            self.commit_sizes.append(dir_size(os.path.join(self.store, "data", d)))
        self._read("scan_filter", loaded)

    def round(self) -> None:
        """One block of the stream. The order of reads and writes is the
        same in every block and for every seed; only the parameters are
        drawn from the seed. An op's cost depends on what ran before it
        (a read after a write scans the frame the write re-pinned), so
        a seeded order made each template's cost differ by seed."""
        self.blocks += 1
        writes = list(WRITES)
        for i, template in enumerate(list(READS) * PASSES):
            self._read(template)
            if i % 4 == 3 and writes:
                self._write(writes.pop(0))
        self._commit()

    # ------------------------------------------------------------ checks
    def check(self) -> None:
        import duckdb

        con = duckdb.connect()
        for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.data, t)}.parquet')")
        con.execute(f"""
            CREATE VIEW person AS SELECT c_custkey AS key, 'Person' || c_custkey AS name,
              CAST(20 + c_custkey % 60 AS BIGINT) AS age,
              ['{"','".join(CITIES)}'][CAST(c_custkey % 5 AS INT) + 1] AS city,
              (c_custkey % 2 = 0) AS active FROM customer""")
        con.execute("""
            CREATE VIEW knows AS
              SELECT c_custkey AS src, (c_custkey + 1) % (SELECT count(*) FROM customer) AS dst,
                     CAST(2020 + c_custkey % 5 AS BIGINT) AS since FROM customer
              UNION ALL
              SELECT c_custkey, (c_custkey + 5) % (SELECT count(*) FROM customer),
                     CAST(2020 + c_custkey % 5 AS BIGINT) FROM customer
              WHERE c_custkey % 10 = 0""")
        cache: dict = {}
        for op, template, params, rows in self.checked:
            _, _, sql, ordered = READS[template]
            key = (template, tuple(sorted(params.items())))
            if key not in cache:
                cache[key] = rows_key(con.execute(sql, params).fetchall(), ordered)
            if not rows_equal(rows_key(rows, ordered), cache[key]):
                self.bench.wrong(op, f"{template} {params}: {len(rows)} rows vs "
                                     f"{len(cache[key])} expected")
        con.close()
        self._check_store()

    def _check_store(self) -> None:
        """After the last commit, ``load_graph`` returns exactly the live
        session graph, and every acknowledged write is readable."""
        from rust_graph_db_spark import storage

        live = self.saved
        if live is None:
            self.bench.wrong("write:commit", "no commit succeeded")
            return
        try:
            latest = storage.load_graph(self.bench.spark, self.store)
        except Exception as exc:  # a broken store is a wrong output
            self.bench.wrong("write:commit", f"load_graph: {type(exc).__name__}")
            return
        for label, frame in (("Person", "vertex_frame"), ("KNOWS", "edge_frame")):
            a = getattr(live, frame)(label)
            b = getattr(latest, frame)(label)
            cols = sorted(a.columns)
            if cols != sorted(b.columns) or \
                    a.select(*cols).exceptAll(b.select(*cols)).limit(1).count() or \
                    b.select(*cols).exceptAll(a.select(*cols)).limit(1).count():
                self.bench.wrong("write:commit", f"stored {label} differs from the live graph")
        ages = {r["name"]: r["age"] for r in latest.vertex_frame("Person")
                .where("age >= 200").select("name", "age").collect()}
        for name, age in self.expected.items():
            if ages.get(name) != age:
                self.bench.wrong("write:commit", f"{name}: stored age {ages.get(name)}, "
                                                 f"acknowledged {age}")
                break

    # ------------------------------------------------------------ layer values
    def layer_values(self) -> dict:
        if not self.commit_sizes:
            return {}
        sizes = sorted(b for b, _ in self.commit_sizes)
        files = sorted(f for _, f in self.commit_sizes)
        return {
            "storage.version_mb": sizes[len(sizes) // 2] / 2**20,
            "storage.version_files": files[len(files) // 2],
            "storage.bytes_per_input_byte": self.commit_sizes[0][0] / self.input_bytes,
        }
