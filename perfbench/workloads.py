"""The three workloads: seeded operation streams, and the checks that
compare every answer graft returns with DuckDB over the same parquet
(reads and write read-backs) or with the stored oracle hashes (batch jobs).
"""
import hashlib
import json
import math
import os
import random

import duckdb

READ_CLASSES = ["lookup", "hop1_agg", "hop2", "hop3_agg", "varlen", "topk"]
WRITE_KINDS = ["create", "set", "merge", "delete"]
BATCH_JOBS = ["pagerank", "kcore", "components", "labelprop", "dedup"]

READ_Q = {
    "lookup": "MATCH (c:Customer {c_custkey: $key}) "
              "RETURN c.c_name AS name, c.c_acctbal AS acctbal, c.c_mktsegment AS segment",
    "hop1_agg": "MATCH (c:Customer {c_custkey: $key})-[:PLACED]->(o:Order) "
                "RETURN count(o) AS orders, sum(o.o_totalprice) AS total",
    "hop2": "MATCH (c:Customer {c_custkey: $key})-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) "
            "RETURN p.p_brand AS brand, count(*) AS lines, sum(p.p_retailprice) AS retail "
            "ORDER BY lines DESC, brand LIMIT 5",
    "hop3_agg": "MATCH (r:Region)<-[:IN_REGION]-(n:Nation)<-[:IN_NATION]-(c:Customer)"
                "-[:PLACED]->(o:Order) WHERE o.o_totalprice > $minPrice "
                "RETURN r.r_name AS region, count(*) AS orders, sum(o.o_totalprice) AS revenue "
                "ORDER BY region",
    "varlen": "MATCH (p:Part {p_partkey: $key})-[:RELATED_TO*1..3]->(q:Part) "
              "RETURN count(DISTINCT q.p_partkey) AS reach",
    "topk": "MATCH (u:User)-[:TRIGGERED]->(e:Event {event_type: $type}) "
            "RETURN u.user_id AS uid, count(*) AS n ORDER BY n DESC, uid LIMIT 5",
}

WRITE_Q = {
    "create": "CREATE (c:Customer {_id: $key, c_custkey: $key, c_name: $name, "
              "c_nationkey: $nation, c_acctbal: $bal, c_mktsegment: 'BENCH'})",
    "set": "MATCH (c:Customer {c_custkey: $key}) SET c.c_acctbal = $bal",
    "merge": "MERGE (c:Customer {_id: $key, c_custkey: $key}) "
             "ON MATCH SET c.c_acctbal = c.c_acctbal + $delta",
    "delete": "MATCH (c:Customer {c_custkey: $key}) DETACH DELETE c",
}
READBACK_POINT = ("MATCH (c:Customer {c_custkey: $key}) "
                  "RETURN c.c_name AS name, c.c_acctbal AS acctbal")
READBACK_GLOBAL = ("MATCH (c:Customer)-[:PLACED]->(o:Order) "
                   "RETURN count(*) AS placed, sum(c.c_acctbal) AS balance")


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.dirname(data)}/duckdb_tmp'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    con.execute("""CREATE TABLE related AS
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey""")
    return con


# ---------------------------------------------------------------- streams

def make_ops(workload, seed, con, n, warm):
    """`n` operations, of which the first `warm` are warm-up."""
    rng = random.Random(seed)
    if workload == "cypher_read":
        return _read_ops(rng, con, n)
    if workload == "cypher_write":
        return _write_ops(rng, con, n)
    if workload == "analytics_batch":
        # the first `warm` jobs of a pass, then whole passes
        jobs = BATCH_JOBS[:warm] + [BATCH_JOBS[i % len(BATCH_JOBS)] for i in range(n - warm)]
        return [{"id": i, "cls": j} for i, j in enumerate(jobs)]
    raise ValueError(workload)


def _buyers(con):
    return [r[0] for r in con.execute(
        "SELECT DISTINCT o_custkey FROM orders ORDER BY 1").fetchall()]


def _read_ops(rng, con, n):
    buyers = _buyers(con)
    parts = [r[0] for r in con.execute(
        "SELECT DISTINCT p1 FROM related ORDER BY 1").fetchall()]
    lo, hi = con.execute(
        "SELECT quantile_disc(o_totalprice, 0.2), quantile_disc(o_totalprice, 0.8) "
        "FROM orders").fetchone()
    types = [r[0] for r in con.execute(
        "SELECT DISTINCT event_type FROM events ORDER BY 1").fetchall()]
    ops = []
    while len(ops) < n:
        # every block of six holds each class once, in seeded order
        block = READ_CLASSES[:]
        rng.shuffle(block)
        for cls in block:
            if cls in ("lookup", "hop1_agg", "hop2"):
                p = {"key": rng.choice(buyers)}
            elif cls == "hop3_agg":
                p = {"minPrice": round(rng.uniform(lo, hi), 2)}
            elif cls == "varlen":
                p = {"key": rng.choice(parts)}
            else:
                p = {"type": rng.choice(types)}
            ops.append({"id": len(ops), "cls": cls, "q": READ_Q[cls], "params": p})
    return ops[:n]


def _write_ops(rng, con, n):
    buyers = _buyers(con)
    n_cust = con.execute("SELECT count(*) FROM customer").fetchone()[0]
    ops = []
    next_key = 10 ** 9
    while len(ops) < n:
        kinds = WRITE_KINDS[:]
        rng.shuffle(kinds)
        keys = rng.sample(buyers, len(kinds))
        for depth, (kind, key) in enumerate(zip(kinds, keys), start=1):
            if kind == "create":
                key = next_key + len(ops)
                p = {"key": key, "name": f"Bench#{key}", "nation": rng.randrange(25),
                     "bal": round(rng.uniform(-999.99, 9999.99), 2)}
            elif kind == "set":
                p = {"key": key, "bal": round(rng.uniform(-999.99, 9999.99), 2)}
            elif kind == "merge":
                p = {"key": key, "delta": round(rng.uniform(1, 100), 2)}
            else:
                p = {"key": key}
            ops.append({"id": len(ops), "cls": kind, "depth": depth,
                        "restart": depth == 1, "q": WRITE_Q[kind], "params": p,
                        "reads": [{"q": READBACK_POINT, "params": {"key": p["key"]}},
                                  {"q": READBACK_GLOBAL, "params": {}}]})
    assert n_cust < next_key
    return ops[:n]


# ---------------------------------------------------------------- checks

def _same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def same_rows(got, want):
    """Ordered row-by-row comparison; floats within 1e-9 relative."""
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


class ReadOracle:
    def __init__(self, con):
        self.con = con

    def expected(self, cls, p):
        c = self.con
        if cls == "lookup":
            q = ("SELECT c_name, c_acctbal, c_mktsegment FROM customer "
                 "WHERE c_custkey = $key")
        elif cls == "hop1_agg":
            q = "SELECT count(*), sum(o_totalprice) FROM orders WHERE o_custkey = $key"
        elif cls == "hop2":
            q = ("SELECT p.p_brand AS brand, count(*) AS lines, sum(p.p_retailprice) "
                 "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
                 "JOIN part p ON p.p_partkey = l.l_partkey WHERE o.o_custkey = $key "
                 "GROUP BY 1 ORDER BY lines DESC, brand LIMIT 5")
        elif cls == "hop3_agg":
            q = ("SELECT r.r_name AS region, count(*), sum(o.o_totalprice) "
                 "FROM orders o JOIN customer cu ON cu.c_custkey = o.o_custkey "
                 "JOIN nation n ON n.n_nationkey = cu.c_nationkey "
                 "JOIN region r ON r.r_regionkey = n.n_regionkey "
                 "WHERE o.o_totalprice > $minPrice GROUP BY 1 ORDER BY region")
        elif cls == "varlen":
            q = ("WITH RECURSIVE walk(n, d) AS ("
                 "  SELECT p2, 1 FROM related WHERE p1 = $key "
                 "  UNION SELECT r.p2, w.d + 1 FROM walk w "
                 "  JOIN related r ON r.p1 = w.n WHERE w.d < 3) "
                 "SELECT count(DISTINCT n) FROM walk")
        else:
            q = ("SELECT user_id AS uid, count(*) AS n FROM events "
                 "WHERE event_type = $type GROUP BY 1 ORDER BY n DESC, uid LIMIT 5")
        return [list(r) for r in c.execute(q, p).fetchall()]


class WriteOracle:
    """Replays each chain's writes on a model of the Customer state."""

    def __init__(self, con):
        self.base = {k: [name, bal] for k, name, bal in con.execute(
            "SELECT c_custkey, c_name, c_acctbal FROM customer").fetchall()}
        self.n_orders = dict(con.execute(
            "SELECT o_custkey, count(*) FROM orders GROUP BY 1").fetchall())
        self.chain = None

    def apply(self, op):
        if op["restart"]:
            self.chain = {}
        st, p = self.chain, op["params"]
        key = p["key"]
        cur = st[key] if key in st else self.base.get(key)
        kind = op["cls"]
        if kind == "create":
            st[key] = [p["name"], p["bal"]]
        elif kind == "set" and cur is not None:
            st[key] = [cur[0], p["bal"]]
        elif kind == "merge" and cur is not None:
            st[key] = [cur[0], cur[1] + p["delta"]]
        elif kind == "delete":
            st[key] = None
        row = st[key] if key in st else self.base.get(key)
        point = [] if row is None else [list(row)]
        placed, balance = 0, 0.0
        for k, n in self.n_orders.items():
            r = st[k] if k in st else self.base.get(k)
            if r is not None:
                placed += n
                balance += n * r[1]
        return [point, [[placed, balance]]]


def check_answer(workload, op, ans, oracle):
    """True when graft's answer equals the oracle's."""
    if workload == "cypher_read":
        return same_rows(ans["rows"], oracle.expected(op["cls"], op["params"]))
    if workload == "cypher_write":
        want = oracle.apply(op)
        return len(ans) == 2 and all(same_rows(a["rows"], w) for a, w in zip(ans, want))
    return oracle.check(op["cls"], ans)


def canon_hash(cols, rows):
    """Hash of a result as the project's oracle gate canonicalizes it:
    columns by name, values as repr(float) / str, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        return repr(float(v)) if isinstance(v, float) else str(v)
    canon = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(json.dumps([sorted(cols), canon]).encode())
    return h.hexdigest()


class BatchOracle:
    """Stored DuckDB-oracle hashes (`expected.json`), plus a union-find
    check for connected components."""

    def __init__(self, con, expected_path, corpus_id):
        with open(expected_path) as fh:
            exp = json.load(fh)
        if exp.get("corpus") != corpus_id:
            raise RuntimeError(f"{expected_path} is for corpus {exp.get('corpus')}, "
                               f"not {corpus_id}; run perfbench/oracles.py")
        self.hashes = exp["jobs"]
        self.con = con
        self._components = None

    def components(self):
        if self._components is None:
            parent = {}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x
            for a, b in self.con.execute("SELECT p1, p2 FROM related").fetchall():
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            self._components = sorted((n, find(n)) for n in parent)
        return self._components

    def check(self, job, ans):
        if job == "components":
            got = sorted((r[0], r[1]) for r in ans["rows"])
            return ans["cols"] == ["p_partkey", "component"] and got == self.components()
        return canon_hash(ans["cols"], ans["rows"]) == self.hashes[job]


def oracle_for(workload, con, expected_path, corpus_id):
    if workload == "cypher_read":
        return ReadOracle(con)
    if workload == "cypher_write":
        return WriteOracle(con)
    return BatchOracle(con, expected_path, corpus_id)
