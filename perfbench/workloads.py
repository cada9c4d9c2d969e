"""The benchmark's workloads and the oracles that check them.

Every workload is a deck of op shapes.  Pass 0 runs each shape once in a
fixed order; warm passes run the same shapes in an order drawn from the
seed.  The seed also draws every key, probe and endpoint, so two seeds
give different inputs but the same shapes.  Results are recorded during
the timed passes and compared with their oracles afterwards, untimed.

- ``analytic``: the 15 headline queries of ``bench.py``, checked
  against the DuckDB ``ORACLES`` twin of each, and a bounded louvain on
  the INTERACTED graph (a parquet truncation every superstep), checked
  to label every vertex of that graph exactly once.
- ``interactive``: one closed-loop client doing seeded point and one-hop
  reads through every query skin, kNN and BM25 probes, and writes to a
  benchmark-owned document type with an incremental materialized view.
  Reads are checked against DuckDB twins, writes against a model of the
  owned type.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import random
from dataclasses import dataclass, field
from typing import Any, Callable

# Scale factor of the generated tables every workload reads.
SCALE = 0.01

# The headline queries of bench.py, copied so an edit there does not
# silently change what this benchmark measures.
HEADLINE = (
    "q_tpch_q1", "q_scan_filter_project", "q_in_subquery", "q_link_3hop",
    "q_match_3hop", "q_graph_bfs_hops", "q_time_bucket", "q_ts_lag_delta",
    "q_bm25", "q_knn_cosine", "q_minhash_dedup", "q_exact_dedup",
    "q_cypher_match", "q_sessionize", "q_ngram_jaccard",
)

# louvain runs this many supersteps at most
LOUVAIN_ITERATIONS = 2


@dataclass
class Op:
    """One op shape instance: ``run(h)`` executes it through the harness
    and returns a normalized result; ``expect()`` gives the oracle's."""

    shape: str
    run: Callable[[Any], Any]
    expect: Callable[[], Any]
    params: dict = field(default_factory=dict)


def norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "asDict"):
        return norm_cell(v.asDict())
    if isinstance(v, dict):
        return repr(sorted((k, norm_cell(x)) for k, x in v.items()))
    if isinstance(v, list):
        return repr(sorted(norm_cell(x) for x in v))
    return repr(v)


def rowset(cols, rows) -> tuple:
    """Order-insensitive, column-order-insensitive form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        tuple(cols[i] for i in order),
        tuple(sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)),
    )


class Oracle:
    """DuckDB over the same parquet tables the engine reads.  Results of
    fixed queries on the fixed tables are pinned once per checkout in
    ``cache_dir`` and reused, so later runs skip recomputing them."""

    def __init__(self, data_dir: str, tmp_dir: str, cache_dir: str) -> None:
        import duckdb

        from perfbench.datagen import TABLES

        self.data_dir, self.cache_dir = data_dir, cache_dir
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        self.con.execute("SET threads = 1")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def rows(self, sql: str, params: list | None = None, cache: bool = False) -> tuple:
        path = None
        if cache:
            key = hashlib.sha256(f"{os.path.basename(self.data_dir)}\0{sql}".encode()).hexdigest()
            path = os.path.join(self.cache_dir, f"{key[:32]}.json")
            if os.path.exists(path):
                with open(path) as fh:
                    cols, rows = json.load(fh)
                return tuple(cols), tuple(tuple(r) for r in rows)
        res = self.con.execute(sql, params or [])
        out = rowset([d[0] for d in res.description], res.fetchall())
        if path:
            os.makedirs(self.cache_dir, exist_ok=True)
            with open(path + ".part", "w") as fh:
                json.dump(out, fh)
            os.replace(path + ".part", path)
        return out

    def close(self) -> None:
        self.con.close()


def _collected(h, label: str, build) -> tuple:
    df, rows = h.query(label, build)
    return rowset(df.columns, rows)


# ---------------------------------------------------------------------------
# analytic
# ---------------------------------------------------------------------------


class Analytic:
    name = "analytic"

    def __init__(self, data_dir: str, seed: int, oracle: Oracle) -> None:
        from arcadedb_spark.driver_queries import ORACLES, QUERIES

        self.data_dir, self.seed, self.oracle = data_dir, seed, oracle
        self.queries, self.oracles = QUERIES, ORACLES

    def setup(self, db) -> None:
        pass

    def deck(self, spark, db, pass_idx: int) -> list[Op]:
        ops = [
            Op(name,
               lambda h, n=name: _collected(h, n, lambda: self.queries[n](spark, self.data_dir)),
               lambda n=name: self.oracle.rows(self.oracles[n], cache=True))
            for name in HEADLINE
        ]
        ops.append(Op("louvain", lambda h: self._louvain(h, db), self._louvain_twin))
        if pass_idx:
            random.Random(f"{self.seed}:{pass_idx}").shuffle(ops)
        return ops

    @staticmethod
    def _louvain(h, db) -> tuple:
        """The labelled vertices, as user ids in order."""
        from arcadedb_spark.graph import algorithms

        _, rows = h.query("louvain", lambda: algorithms.louvain(
            db.graph().edges("INTERACTED"), max_iterations=LOUVAIN_ITERATIONS))
        base = db.schema.get("customer").bucket_id << 40
        return tuple(sorted(r["vid"] - base for r in rows))

    def _louvain_twin(self) -> tuple:
        """Every user on an INTERACTED edge (graph/model.py), once each.
        ``q_louvain``'s oracle is a golden table for the fixture data, so
        on generated tables only this property is checked."""
        return tuple(u for (u,) in self.oracle.con.execute(
            "WITH pairs AS (SELECT user_id AS s, lead(user_id) OVER (ORDER BY ts, event_id) AS d "
            "FROM events), e AS (SELECT s, d FROM pairs WHERE d IS NOT NULL AND s <> d) "
            "SELECT s FROM e UNION SELECT d FROM e ORDER BY 1").fetchall())


# ---------------------------------------------------------------------------
# interactive
# ---------------------------------------------------------------------------

GRAPHQL_SCHEMA = """
type Query {
  customer(c_custkey: Int): Customer
}

type Customer {
  c_custkey: Int
  c_name: String
  c_mktsegment: String
  orders: [Order] @relationship(type: "PLACED", direction: OUT)
}

type Order {
  o_orderkey: Int
  o_totalprice: Float
}
"""

OWNED_TYPE = "BenchDoc"
OWNED_VIEW = "BenchTotals"
OWNED_TAGS = ("t0", "t1", "t2", "t3", "t4")
OWNED_ROWS = 60


class Interactive:
    name = "interactive"

    def __init__(self, data_dir: str, seed: int, oracle: Oracle) -> None:
        self.data_dir, self.seed, self.oracle = data_dir, seed, oracle
        c = oracle.con
        self.n_cust = c.execute("SELECT count(*) FROM customer").fetchone()[0]
        self.n_vec = c.execute("SELECT count(*) FROM embeddings").fetchone()[0]
        self.words = [w for (w,) in c.execute(
            "SELECT w FROM (SELECT unnest(string_split(lower(text), ' ')) AS w "
            "FROM documents) WHERE length(w) > 3 GROUP BY w ORDER BY w").fetchall()]
        # the owned type's rows: k -> (tag, v); integer v keeps sums exact
        rng = random.Random(f"{seed}:owned")
        self.model = {k: (OWNED_TAGS[k % len(OWNED_TAGS)], rng.randrange(1, 1000))
                      for k in range(OWNED_ROWS)}
        self.next_key = OWNED_ROWS

    def setup(self, db) -> None:
        db.graph()
        db.command(GRAPHQL_SCHEMA, language="graphql")
        db.command(f"CREATE DOCUMENT TYPE {OWNED_TYPE}")
        values = ", ".join(f"({k}, '{t}', {v})" for k, (t, v) in sorted(self.model.items()))
        db.command(f"INSERT INTO {OWNED_TYPE} (k, tag, v) VALUES {values}")
        db.command(
            f"CREATE MATERIALIZED VIEW {OWNED_VIEW} AS SELECT tag, count(*) AS n, "
            f"sum(v) AS total FROM {OWNED_TYPE} GROUP BY tag REFRESH INCREMENTAL"
        )

    # -- reads -------------------------------------------------------------
    def _reads(self, db, rng: random.Random) -> list[Op]:
        """Point and one-hop reads of a seeded customer through every skin;
        ``literal`` shapes embed the key in the text (a new statement each
        time), ``param`` shapes pass it as a parameter (one statement)."""
        point = "SELECT c_name, c_acctbal FROM customer WHERE c_custkey = ?"
        hop = "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = ?"
        hop_nested = (
            "SELECT c.c_name, list({'o_orderkey': o.o_orderkey, "
            "'o_totalprice': o.o_totalprice}) FILTER (WHERE o.o_orderkey IS NOT NULL) "
            "AS orders FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey "
            "WHERE c.c_custkey = ? GROUP BY c.c_name")
        shapes = [
            ("sql_point_literal", point, lambda k: db.query(
                f"SELECT c_name, c_acctbal FROM customer WHERE c_custkey = {k}")),
            ("sql_point_param", point, lambda k: db.query(
                "SELECT c_name, c_acctbal FROM customer WHERE c_custkey = :k", k=k)),
            ("sql_hop_param", hop, lambda k: db.query(
                "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = :k", k=k)),
            ("cypher_point_literal", point, lambda k: db.query(
                f"MATCH (c:Customer) WHERE c.c_custkey = {k} "
                "RETURN c.c_name AS c_name, c.c_acctbal AS c_acctbal", language="cypher")),
            ("cypher_hop_param", hop, lambda k: db.query(
                "MATCH (c:Customer)-[:PLACED]->(o:`Order`) WHERE c.c_custkey = $k "
                "RETURN o.o_orderkey AS o_orderkey, o.o_totalprice AS o_totalprice",
                language="cypher", k=k)),
            ("gremlin_point_literal", point, lambda k: db.query(
                f"g.V().hasLabel('Customer').has('c_custkey', {k})"
                ".values('c_name', 'c_acctbal')", language="gremlin")),
            ("gremlin_hop_literal", hop, lambda k: db.query(
                f"g.V().hasLabel('Customer').has('c_custkey', {k}).out('PLACED')"
                ".values('o_orderkey', 'o_totalprice')", language="gremlin")),
            ("graphql_hop_literal", hop_nested, lambda k: db.query(
                f"{{ customer(c_custkey: {k}) {{ c_name orders {{ o_orderkey o_totalprice }} }} }}",
                language="graphql")),
            ("mongo_point_literal", point, lambda k: db.query(json.dumps({
                "collection": "customer", "query": {"c_custkey": k},
                "projection": {"c_name": 1, "c_acctbal": 1}}), language="mongo")),
            ("select_point_param", point, lambda k: db.select("customer")
                .where_property("c_custkey").eq(k).select("c_name", "c_acctbal").df()),
        ]
        ops = []
        for shape, twin, build in shapes:
            k = rng.randrange(self.n_cust)
            ops.append(Op(
                shape,
                lambda h, s=shape, b=build, k=k: _collected(h, s, lambda: b(k)),
                lambda t=twin, k=k: self.oracle.rows(t, [k]),
                {"key": k}))
        v = rng.randrange(self.n_vec)
        qvec = [float(x) for x in self.oracle.con.execute(
            "SELECT embedding FROM embeddings WHERE vec_id = ?", [v]).fetchone()[0]]
        ops.append(Op(
            "knn_probe",
            lambda h, q=qvec: _collected(h, "knn_probe", lambda: db.select("embeddings")
                .vector_property("embedding").vector_query(q).vector_k(10).df()
                .select("vec_id")),
            lambda q=qvec: self._knn_twin(q), {"key": v}))
        terms = " ".join(rng.sample(self.words, 3))
        ops.append(Op(
            "bm25_probe",
            lambda h, t=terms: _collected(h, "bm25_probe", lambda: self._bm25(db, t)),
            lambda t=terms: self._bm25_twin(t), {"key": terms}))
        return ops

    @staticmethod
    def _bm25(db, terms: str):
        from pyspark.sql import functions as F

        from arcadedb_spark.text.fulltext import bm25_search

        out = bm25_search(db.table("documents"), "doc_id", "text", terms)
        return (out.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
                .select("doc_id", F.round("score", 4).alias("score")))

    def _bm25_twin(self, terms: str) -> tuple:
        from arcadedb_spark.driver_queries import ORACLES

        fixed = "['fast', 'join', 'stream']"
        sql = ORACLES["q_bm25"]
        if fixed not in sql:
            raise RuntimeError("q_bm25 oracle no longer names its query terms")
        return self.oracle.rows(sql.replace(fixed, json.dumps(terms.split()).replace('"', "'")))

    def _knn_twin(self, q: list[float]) -> tuple:
        return self.oracle.rows(
            "SELECT vec_id FROM embeddings ORDER BY list_cosine_similarity("
            "CAST(embedding AS DOUBLE[]), CAST(? AS DOUBLE[])) DESC LIMIT 10", [q])

    # -- writes ------------------------------------------------------------
    def _writes(self, db, rng: random.Random) -> list[Op]:
        """INSERT, UPDATE and DELETE on the owned type.  Each is followed
        by an MV refresh and read-backs of the row and of its tag's view
        row; the expected state comes from the model, advanced here in
        deck order (the ops run in that order within a pass)."""
        ops = []
        k_new = self.next_key
        self.next_key += 1
        tag, v = OWNED_TAGS[rng.randrange(len(OWNED_TAGS))], rng.randrange(1, 1000)
        ops.append(self._write("insert", db,
                               f"INSERT INTO {OWNED_TYPE} (k, tag, v) VALUES ({k_new}, '{tag}', {v})",
                               k_new, tag, lambda: self.model.__setitem__(k_new, (tag, v))))
        k_up = rng.choice(sorted(self.model))
        v2 = rng.randrange(1, 1000)
        tag_up = self.model[k_up][0]
        ops.append(self._write("update", db,
                               f"UPDATE {OWNED_TYPE} SET v = {v2} WHERE k = {k_up}",
                               k_up, tag_up, lambda: self.model.__setitem__(k_up, (tag_up, v2))))
        k_del = rng.choice(sorted(k for k in self.model if k not in (k_new, k_up)))
        tag_del = self.model[k_del][0]
        ops.append(self._write("delete", db,
                               f"DELETE FROM {OWNED_TYPE} WHERE k = {k_del}",
                               k_del, tag_del, lambda: self.model.pop(k_del)))
        return ops

    def _write(self, kind, db, stmt, key, tag, apply):
        apply()
        row = self.model.get(key)
        want_row = rowset(["tag", "v"], [row] if row else [])
        tagged = [v for t, v in self.model.values() if t == tag]
        want_view = rowset(["n", "total"], [(len(tagged), sum(tagged))] if tagged else [])

        def run(h):
            h.query(f"dml.{kind}", lambda: db.command(stmt))
            h.query("mv.refresh", lambda: db.command(f"REFRESH MATERIALIZED VIEW {OWNED_VIEW}"))
            return (
                _int_rows(h, "mv.read_type", lambda: db.query(
                    f"SELECT tag, v FROM {OWNED_TYPE} WHERE k = :k", k=key)),
                _int_rows(h, "mv.read_view", lambda: db.query(
                    f"SELECT n, total FROM {OWNED_VIEW} WHERE tag = :t", t=tag)),
            )

        return Op(f"write_{kind}", run, lambda: (want_row, want_view), {"key": key})

    def deck(self, spark, db, pass_idx: int) -> list[Op]:
        rng = random.Random(f"{self.seed}:{pass_idx}")
        reads = self._reads(db, rng)
        writes = self._writes(db, rng)
        if pass_idx:
            rng.shuffle(reads)
        # writes keep their order (the model advances in it) and are
        # spread through the pass
        ops = list(reads)
        for i, w in enumerate(writes):
            ops.insert((i + 1) * len(ops) // (len(writes) + 1), w)
        return ops


def _int_rows(h, label: str, build) -> tuple:
    """Read-back of the owned type: numbers compare as integers, since a
    sum over an untyped document column may come back as a double."""
    df, rows = h.query(label, build)
    return rowset(df.columns, [
        tuple(int(c) if isinstance(c, (int, float)) else c for c in r) for r in rows
    ])


WORKLOADS = {w.name: w for w in (Analytic, Interactive)}
