"""Workload ``serve_wide_catalog``: read-only serving over a wide catalog.

Why: per-statement cost here comes from the statement plane (split,
catalog bind in ``reload_views``, name rewrite, ETag) and the frontends;
Spark does little per statement. Catalog bind grows with catalog size
(every statement binds every table), so the catalog holds the ten sf0.1
tables plus 40 small seeded tables of simple types. At ~1.4 s per
statement a 100-table catalog left ~15 operations in a run and
run-to-run spreads near 0.25; at 50 tables the bind still dominates a
read's self time and a run holds twice the samples.

Should move it: context-layer work (catalog bind, rewrite, ETag scan) and
frontend serialization. Should leave it unchanged: write-path (deltalite
commit, sync, matview) and Python-UDF/operator changes.

Traffic (closed loop, one client), repeating a fixed sequence of ten: 4
small ``POST /q`` reads (point lookups, filtered aggregates, top-10s over
lineitem/orders/customer), 1 of the same shapes over pgwire, 1 over
Flight, 1 BM25 ``search_index()`` lookup on ``documents`` and 3 ``GET
/q`` revalidations (``If-None-Match``) of 20 fixed dashboard queries,
whose one miss each happens before the clock starts (so every measured
GET is a revalidation, however few a run holds). One client, not
two: every statement holds the context's statement lock for its whole
bind, so a second client adds a wait of 0-100% of a statement to each
read, which doubled the run-to-run spread of the read median.

Checks: every read is compared as it arrives with DuckDB's answer over
the same parquet, every search with an independent BM25; nothing is
written, so every ``304`` is fresh.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq

from . import datagen
from .checks import Bm25Reference, rows_match, topk_matches
from .harness import Client, Sample, closed_loop

N_FILLERS = 40
N_DASHBOARDS = 20
POOL_PER_SHAPE = 6
SEARCH_K = 10
# the traffic mix, in the order a client repeats it
DECK = ("post", "get", "pgwire", "post", "get", "flight", "post", "search", "get", "post")


@dataclass
class Query:
    shape: str
    sql: str
    tables: int
    expected: list | None = None


def _shapes(rng: np.random.Generator) -> list[Query]:
    k = lambda lo, hi: int(rng.integers(lo, hi))  # noqa: E731
    a, c = k(0, datagen.N_PART - 200), k(0, datagen.N_CUSTOMER - 100)
    return [
        Query("point_order", "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
              f"WHERE o_orderkey = {k(0, datagen.N_ORDERS)}", 1),
        Query("point_customer", "SELECT c_custkey, c_name, c_acctbal FROM customer "
              f"WHERE c_custkey = {k(0, datagen.N_CUSTOMER)}", 1),
        Query("agg_lineitem", "SELECT l_returnflag, l_linestatus, count(*) AS n, "
              f"sum(l_quantity) AS qty FROM lineitem WHERE l_partkey BETWEEN {a} AND {a + 199} "
              "GROUP BY l_returnflag, l_linestatus", 1),
        Query("agg_orders", "SELECT o_orderpriority, count(*) AS n, "
              "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents FROM orders "
              f"WHERE o_custkey BETWEEN {c} AND {c + 99} GROUP BY o_orderpriority", 1),
        Query("top_orders", "SELECT o_orderkey, o_totalprice FROM orders "
              f"WHERE o_orderstatus = '{'FOP'[k(0, 3)]}' AND o_custkey < {k(100, 2000)} "
              "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10", 1),
        Query("top_customers", "SELECT c_custkey, c_acctbal FROM customer "
              f"WHERE c_mktsegment = '{datagen.SEGMENTS[k(0, 5)]}' AND c_nationkey = {k(0, 25)} "
              "ORDER BY c_acctbal DESC, c_custkey LIMIT 10", 1),
        Query("top_lineitem", "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
              f"WHERE l_suppkey = {k(0, datagen.N_SUPPLIER)} "
              "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10", 1),
        Query("join_orders_customer", "SELECT c_mktsegment, count(*) AS n FROM orders "
              f"JOIN customer ON o_custkey = c_custkey WHERE o_orderkey < {k(100, 5000)} "
              "GROUP BY c_mktsegment", 2),
    ]


@dataclass
class Inputs:
    reads: list[Query]
    dashboards: list[Query]
    searches: list[tuple[str, dict[int, float]]]
    fillers: dict
    seed: int
    # the dashboards' ETags as the client holds them (index -> (etag, time
    # the response carrying it arrived))
    etags: dict[int, tuple[str, float]] = field(default_factory=dict)
    primed_ok: bool = True


def prepare(seed: int, base_dir: str) -> Inputs:
    """Seeded inputs and their expected answers (DuckDB over the same
    parquet; an independent BM25 for the search lookups)."""
    rng = np.random.default_rng([seed, 1])
    reads = [q for _ in range(POOL_PER_SHAPE) for q in _shapes(rng)]
    seen: set[str] = set()
    dashboards: list[Query] = []
    while len(dashboards) < N_DASHBOARDS:
        for q in _shapes(rng):
            if q.sql not in seen and len(dashboards) < N_DASHBOARDS:
                seen.add(q.sql)
                dashboards.append(q)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in datagen.TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{base_dir}/{name}.parquet')")
    for q in reads + dashboards:
        q.expected = con.execute(q.sql).fetchall()
    con.close()
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"), columns=["doc_id", "text"])
    bm25 = Bm25Reference(list(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())))
    searches = [(t, bm25.scores(t)) for t in datagen.search_terms(rng, 8)]
    return Inputs(reads, dashboards, searches, datagen.filler_tables(rng, N_FILLERS), seed)


def setup(engine, inputs: Inputs, base_dir: str) -> None:
    for name in datagen.TABLES:
        engine.load_parquet_dir(name, datagen.engine_files(base_dir, name))
    for name, table in inputs.fillers.items():
        d = os.path.join(engine.workdir, "load", name)
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-000.parquet"))
        engine.ctx.execute(f"CONVERT '{d}' TO DELTA {name}")
    engine.ctx.execute(
        "CREATE SEARCH INDEX docs_bm25 ON documents (text) USING BM25 WITH ('id_col' = 'doc_id')"
    )


def _search_sql(terms: str) -> str:
    return f"SELECT result_id, score FROM search_index('documents', 'docs_bm25', '{terms}', {SEARCH_K})"


def _tuples(rows: list[dict]) -> list[tuple]:
    return [tuple(r.values()) for r in rows]


class _Schedule:
    """One client's order of operations: the mix repeated in a fixed order
    and each seeded pool (reads, dashboards, search terms) walked in turn,
    so every run, whatever its seed and length, holds the same operations
    and query shapes in the same proportions; the seed picks the
    parameters."""

    def __init__(self) -> None:
        self.taken: dict[str, int] = {}

    def kind(self) -> str:
        return DECK[self.index("kind", len(DECK))]

    def index(self, pool: str, size: int) -> int:
        n = self.taken.get(pool, 0)
        self.taken[pool] = n + 1
        return n % size


def one_op(client: Client, plan: _Schedule, inputs: Inputs, rec) -> Sample:
    kind = plan.kind()
    if kind == "search":
        terms, scores = inputs.searches[plan.index("search", len(inputs.searches))]
        with rec.span("search"):
            sent = time.time()
            status, rows = client.post(_search_sql(terms))
            received = time.time()
        got = [(r["result_id"], r["score"]) for r in rows] if status == 200 else []
        ok = status == 200 and topk_matches(got, scores, SEARCH_K)
        return Sample("read", "search", sent, received, ok, len(rows), "http", 1)
    if kind == "get":
        i = plan.index("get", len(inputs.dashboards))
        q = inputs.dashboards[i]
        held = inputs.etags.get(i)
        with rec.span("get"):
            sent = time.time()
            status, etag, rows = client.get(q.sql, held[0] if held else None)
            received = time.time()
        if status == 200 and etag:
            inputs.etags[i] = (etag, received)
        # nothing is written in this workload, so every 304 is fresh
        ok = status == 304 if held else (status == 200 and rows_match(_tuples(rows), q.expected))
        kind = "revalidate" if held else "read"
        return Sample(kind, f"get_{q.shape}", sent, received, ok, len(rows), "http", q.tables,
                      executed=status == 200)
    q = inputs.reads[plan.index("read", len(inputs.reads))]
    with rec.span(kind):
        sent = time.time()
        if kind == "post":
            status, rows = client.post(q.sql)
            got = _tuples(rows) if status == 200 else None
        elif kind == "pgwire":
            got = client.pg_query(q.sql)
        else:
            got = _tuples(client.flight_query(q.sql).to_pylist())
        received = time.time()
    ok = got is not None and rows_match(got, q.expected)
    frontend = "http" if kind == "post" else kind
    return Sample("read", q.shape, sent, received, ok, len(got or []), frontend, q.tables)


def warm_up(engine, inputs: Inputs) -> None:
    """Before the clock starts: the dashboards' first (missing) GETs, which
    fill the shared ETag cache so the measured GETs are the steady state's
    revalidations, then one read of each shape the dashboards do not
    cover and a search (the index's first load), so the window holds no
    first-call costs."""
    client = Client(engine)
    try:
        for i, q in enumerate(inputs.dashboards):
            status, etag, rows = client.get(q.sql, None)
            inputs.etags[i] = (etag, time.time())
            inputs.primed_ok &= status == 200 and rows_match(_tuples(rows), q.expected)
        covered = {q.shape for q in inputs.dashboards}
        for q in {q.shape: q for q in inputs.reads if q.shape not in covered}.values():
            client.post(q.sql)
        client.post(_search_sql(inputs.searches[0][0]))
    finally:
        client.close()


def measure(engine, inputs: Inputs, rec, seconds: float):
    plan = _Schedule()
    return closed_loop(engine, lambda client: rec.add(one_op(client, plan, inputs, rec)), seconds)


def verify(engine, inputs: Inputs, rec) -> tuple[bool, dict]:
    """Every measured answer was checked as it arrived; this reports the
    check of the warm-up's dashboard answers. Nothing is written, so there
    are no storage figures."""
    return inputs.primed_ok, {}
