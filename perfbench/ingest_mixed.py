"""Workload ``ingest_mixed``: writes and reads on a narrow catalog.

Catalog: ``kv`` (150k rows projected from sf0.1 orders, keyed on
``o_orderkey``), ``lineitem``, a logical view ``kv_open`` over ``kv`` and a
materialized aggregate ``kv_mv`` over ``kv``.

One closed-loop client alternates a writer cycle and a reader cycle.
(Two concurrent clients, one per role, made each read's latency depend on
which write it overlapped: the read median's run-to-run spread reached
0.2-0.29, beyond the benchmark's bound.)

Writer cycle: one seeded CDC batch of 1,000 changes (updates, inserts, a
few deletes) via Flight ``do_put`` + ``flush``; one point ``UPDATE``, one
``DELETE`` and one ``INSERT`` via ``POST /q``; ``REFRESH MATERIALIZED
VIEW``; ``OPTIMIZE kv``. OPTIMIZE runs every cycle, so kv's file count
stays level and a run, which always ends on a cycle boundary, ends with
kv just compacted: the storage figures do not depend on where the window
ends. A cycle makes five commits to kv, so a run's 4-5 cycles reach the
log checkpoint (every 20 commits) about once, not several times: more
commits per run would need more writes per cycle, and the run is already
as long as the benchmark's time budget allows.

Reader cycle: revalidating ``GET /q`` on ``kv``, the view and the
matview; a q1-shaped aggregate over lineitem; a ~60k-row export of kv
over ``POST /q``, then the same over Flight. (Both exports in every
cycle, rather than one per cycle in turn, keep the same number of each
in a run and put the pooled read median inside a cluster of similar
reads instead of in the gap between them.)

Why: the work sits in deltalite commits and pruning, sync squash/merge,
matview refresh, ETag invalidation and result serialization; the context
layer is small because the catalog is. Should move it: write-path,
sync, matview and serialization changes. A change that speeds reads but
costs writes, or the reverse, shows here. Should leave it unchanged:
catalog-width (bind) costs and Python-worker operator changes.

Checks: every write is known to the benchmark, so after the run it
replays them on a model of ``kv`` and holds every read, every ``304`` and
the final ``kv`` and ``kv_mv`` against it. A ``304`` is stale when a
commit that changed the query's result landed after its ETag was issued.
The view's ETag does not cover its base table (a known engine defect), so
its revalidations turn stale once a write lands; they count as failed
operations but leave the output correct. A stale ``304`` on ``kv`` or the
matview, a wrong read or a wrong final table makes the output incorrect.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import datagen
from .checks import FreshnessLog, rows_match
from .harness import Client, Recorder, Sample, closed_loop

KV_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
CDC_SIZE = (700, 250, 50)  # updates, inserts, deletes per batch
EXPORT_BELOW = 60_000  # export rows with o_orderkey below this

CENTS = "sum(CAST(round(o_totalprice * 100) AS BIGINT))"
# revalidations of these queries may be stale at the seed commit: the
# view's ETag hashes only its catalog entry, not kv
KNOWN_STALE = {"view"}
TRACKED = {
    "kv": f"SELECT count(*) AS n, {CENTS} AS cents FROM kv",
    "view": f"SELECT count(*) AS n, {CENTS} AS cents FROM kv_open",
    "matview": "SELECT o_orderstatus, n, cents FROM kv_mv ORDER BY o_orderstatus",
}
EXPORT_SQL = f"SELECT {', '.join(KV_COLS)} FROM kv WHERE o_orderkey < {EXPORT_BELOW}"
DESCRIPTORS = [
    {"name": "old_pk", "role": "old_pk", "target": "o_orderkey"},
    {"name": "new_pk", "role": "new_pk", "target": "o_orderkey"},
] + [
    d
    for c in KV_COLS[1:]
    for d in (
        {"name": f"v_{c}", "role": "value", "target": c},
        {"name": f"ch_{c}", "role": "changed", "target": c},
    )
]


@dataclass
class Inputs:
    seed: int
    kv: pd.DataFrame
    q1: list[tuple[str, list]]  # (sql, expected rows)
    writes: list[tuple] = field(default_factory=list)  # (start, end, op, payload)
    stream: datagen.ChangeStream | None = None
    writer: "Writer | None" = None
    reader: "Reader | None" = None
    kv_bytes: int = 0  # on disk under kv's root when the clock started


def prepare(seed: int, base_dir: str) -> Inputs:
    rng = np.random.default_rng([seed, 4])
    kv = pq.read_table(os.path.join(base_dir, "orders.parquet"), columns=KV_COLS).to_pandas()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{base_dir}/lineitem.parquet')")
    q1 = []
    for _ in range(8):
        day = np.datetime64("1998-01-01") + int(rng.integers(0, 1200))
        sql = (
            "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            "sum(l_extendedprice) AS sum_base, avg(l_discount) AS avg_disc, count(*) AS n "
            f"FROM lineitem WHERE l_shipdate <= TIMESTAMP '{day} 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        )
        q1.append((sql, con.execute(sql).fetchall()))
    con.close()
    inputs = Inputs(seed, kv, q1, stream=datagen.ChangeStream(rng, kv["o_orderkey"].to_numpy()))
    inputs.writer = Writer(inputs)
    inputs.reader = Reader(inputs, np.random.default_rng([seed, 6]))
    return inputs


def setup(engine, inputs: Inputs, base_dir: str) -> None:
    d = os.path.join(engine.workdir, "load", "kv")
    os.makedirs(d)
    table = pa.Table.from_pandas(inputs.kv, preserve_index=False)
    step = -(-table.num_rows // datagen.ENGINE_PARTS)
    for i in range(datagen.ENGINE_PARTS):
        pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i:03d}.parquet"))
    ctx = engine.ctx
    ctx.execute(f"CONVERT '{d}' TO DELTA kv")
    engine.load_parquet_dir("lineitem", datagen.engine_files(base_dir, "lineitem"))
    ctx.execute("CREATE VIEW kv_open AS SELECT o_orderkey, o_totalprice FROM kv WHERE o_orderstatus = 'O'")
    ctx.execute(
        "CREATE MATERIALIZED VIEW kv_mv AS SELECT o_orderstatus, count(*) AS n, "
        f"{CENTS} AS cents FROM kv GROUP BY o_orderstatus"
    )


# ---------------------------------------------------------------- writer


def _cdc_table(batch: dict) -> pa.Table:
    rows = []
    for u in batch["updates"]:
        row = {"old_pk": u["o_orderkey"], "new_pk": u["o_orderkey"]}
        for c in KV_COLS[1:]:
            row[f"v_{c}"] = u.get(c)
            row[f"ch_{c}"] = c in u
        rows.append(row)
    for r in batch["inserts"]:
        row = {"old_pk": None, "new_pk": r["o_orderkey"]}
        for c in KV_COLS[1:]:
            row[f"v_{c}"] = r[c]
            row[f"ch_{c}"] = True
        rows.append(row)
    for k in batch["deletes"]:
        row = {"old_pk": k, "new_pk": None}
        for c in KV_COLS[1:]:
            row[f"v_{c}"] = None
            row[f"ch_{c}"] = False
        rows.append(row)
    schema = pa.schema(
        [("old_pk", pa.int64()), ("new_pk", pa.int64())]
        + [
            f
            for c, t in zip(KV_COLS[1:], (pa.int64(), pa.string(), pa.float64(), pa.string()))
            for f in ((f"v_{c}", t), (f"ch_{c}", pa.bool_()))
        ]
    )
    return pa.Table.from_pylist(rows, schema=schema)


class Writer:
    """The writer's state (the CDC sequence number) outlives the
    client connection, so the warm-up cycle and the measured ones form one
    stream."""

    def __init__(self, inputs: Inputs):
        self.inputs = inputs
        self.sequence = 0

    def _timed(self, kind: str, shape: str, fn, op, payload, rows: int = 1) -> None:
        with self.rec.span(shape):
            sent = time.time()
            ok = fn()
            received = time.time()
        self.inputs.writes.append((sent, received, op, payload))
        self.rec.add(Sample(kind, shape, sent, received, ok, rows, "http", 1))

    def _post_ok(self, sql: str):
        return lambda: self.client.post(sql)[0] == 200

    def run_cycle(self, client: Client, rec) -> None:
        self.client, self.rec = client, rec
        s = self.inputs.stream
        batch = s.cdc_batch(*CDC_SIZE)
        self.sequence += 1
        cmd = {
            "table": "kv", "origin": "perfbench", "sequence_number": self.sequence,
            "descriptors": DESCRIPTORS,
        }
        table = _cdc_table(batch)

        def cdc() -> bool:
            self.client.flight_put(cmd, table)
            self.client.flight_flush()
            return True

        self._timed("cdc", "cdc_batch", cdc, "cdc", batch, rows=table.num_rows)
        u = s.point_update()
        self._timed("write", "update", self._post_ok(
            f"UPDATE kv SET o_totalprice = {u['o_totalprice']:.2f} WHERE o_orderkey = {u['o_orderkey']}"
        ), "update", u)
        k = s.point_delete()
        self._timed("write", "delete", self._post_ok(f"DELETE FROM kv WHERE o_orderkey = {k}"), "delete", k)
        r = s.point_insert()
        values = ", ".join(
            f"'{r[c]}'" if isinstance(r[c], str) else (f"{r[c]:.2f}" if isinstance(r[c], float) else str(r[c]))
            for c in KV_COLS
        )
        self._timed("write", "insert", self._post_ok(f"INSERT INTO kv VALUES ({values})"), "insert", r)
        self._timed("refresh", "refresh", self._post_ok("REFRESH MATERIALIZED VIEW kv_mv"), "refresh", None)
        self._timed("maintenance", "optimize", self._post_ok("OPTIMIZE kv"), "optimize", None)


# ---------------------------------------------------------------- reader


class Reader:
    def __init__(self, inputs: Inputs, rng: np.random.Generator):
        self.inputs, self.rng = inputs, rng
        self.etags: dict[str, tuple[str, float]] = {}
        self.observed: list[tuple] = []  # (query, sent, received, status, fingerprint, etag time)

    def run_cycle(self, client: Client, rec) -> None:
        self.client, self.rec = client, rec
        for qid, sql in TRACKED.items():
            held = self.etags.get(qid)
            with self.rec.span("get"):
                sent = time.time()
                status, etag, rows = self.client.get(sql, held[0] if held else None)
                received = time.time()
            if status == 200 and etag:
                self.etags[qid] = (etag, received)
            fp = _fingerprint(qid, [tuple(r.values()) for r in rows]) if status == 200 else None
            self.observed.append((qid, sent, received, status, fp, held[1] if held else None))
            kind = "revalidate" if held else "read"
            self.rec.add(Sample(kind, f"get_{qid}", sent, received, status in (200, 304), len(rows),
                                "http", 1, executed=status == 200))
        sql, expected = self.inputs.q1[int(self.rng.integers(0, len(self.inputs.q1)))]
        with self.rec.span("post"):
            sent = time.time()
            status, rows = self.client.post(sql)
            received = time.time()
        ok = status == 200 and rows_match([tuple(r.values()) for r in rows], expected)
        self.rec.add(Sample("read", "q1_lineitem", sent, received, ok, len(rows), "http", 1))
        for via_flight in (False, True):
            self._export(via_flight)

    def _export(self, via_flight: bool) -> None:
        with self.rec.span("flight" if via_flight else "post"):
            sent = time.time()
            if via_flight:
                df = self.client.flight_query(EXPORT_SQL).to_pandas()
                status = 200
            else:
                status, rows = self.client.post(EXPORT_SQL)
                df = pd.DataFrame(rows, columns=KV_COLS)
            received = time.time()
        fp = _export_fp(df) if status == 200 else None
        self.observed.append(("export", sent, received, status, fp, None))
        shape = "export_flight" if via_flight else "export_http"
        self.rec.add(Sample("read", shape, sent, received, status == 200, len(df), shape[7:], 1))


def _fingerprint(qid: str, rows: list[tuple]):
    if qid == "matview":
        return tuple(tuple(r) for r in sorted(rows))
    return tuple(rows[0]) if rows else None


def _export_fp(df: pd.DataFrame) -> tuple:
    return (
        len(df),
        int(df["o_orderkey"].sum()),
        int((df["o_totalprice"] * 100).round().astype("int64").sum()),
    )


# ---------------------------------------------------------------- model


class Model:
    """``kv`` as the benchmark's own writes leave it."""

    def __init__(self, kv: pd.DataFrame):
        self.kv = kv.set_index("o_orderkey", drop=False).copy()
        self.mv = self._aggregate()

    def _aggregate(self) -> tuple:
        cents = (self.kv["o_totalprice"] * 100).round().astype("int64")
        g = pd.DataFrame({"s": self.kv["o_orderstatus"], "c": cents}).groupby("s")["c"].agg(["count", "sum"])
        return tuple((s, int(n), int(c)) for s, (n, c) in zip(g.index, g.to_numpy()))

    def apply(self, op: str, payload) -> None:
        kv = self.kv
        if op == "cdc":
            for u in payload["updates"]:
                for c in ("o_orderstatus", "o_totalprice"):
                    kv.at[u["o_orderkey"], c] = u[c]
            kv = kv.drop(index=payload["deletes"])
            kv = pd.concat([kv, pd.DataFrame(payload["inserts"]).set_index("o_orderkey", drop=False)])
        elif op == "update":
            kv.at[payload["o_orderkey"], "o_totalprice"] = payload["o_totalprice"]
        elif op == "delete":
            kv = kv.drop(index=[payload])
        elif op == "insert":
            kv = pd.concat([kv, pd.DataFrame([payload]).set_index("o_orderkey", drop=False)])
        elif op == "refresh":
            self.mv = self._aggregate()
        self.kv = kv

    def fingerprints(self) -> dict:
        kv = self.kv
        cents = (kv["o_totalprice"] * 100).round().astype("int64")
        is_open = kv["o_orderstatus"] == "O"
        low = kv["o_orderkey"] < EXPORT_BELOW
        return {
            "kv": (len(kv), int(cents.sum())),
            "view": (int(is_open.sum()), int(cents[is_open].sum())),
            "matview": self.mv,
            "export": (int(low.sum()), int(kv["o_orderkey"][low].sum()), int(cents[low].sum())),
        }


# ---------------------------------------------------------------- run


def warm_up(engine, inputs: Inputs) -> None:
    """A writer cycle and a reader cycle before the clock starts, so the
    measured window holds no first-call costs (codegen, first Flight
    calls). The warm-up writes are part of the checked write stream, and
    the warm-up reads are checked like the measured ones."""
    client = Client(engine)
    try:
        inputs.writer.run_cycle(client, Recorder())
        inputs.reader.run_cycle(client, Recorder())
    finally:
        client.close()


def measure(engine, inputs: Inputs, rec, seconds: float):
    inputs.kv_bytes = _du(engine.ctx.delta_table("kv").root)

    def cycle(client: Client) -> None:
        inputs.writer.run_cycle(client, rec)
        inputs.reader.run_cycle(client, rec)

    return closed_loop(engine, cycle, seconds)


def _du(path: str) -> int:
    path = os.path.realpath(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


def _storage(engine, inputs: Inputs, rec) -> dict:
    """Write amplification (bytes written under kv's root per byte of
    changed rows, at the table's bytes per row), space amplification
    (data on disk over live data) and kv's log size."""
    t = engine.ctx.delta_table("kv")
    total = _du(t.root)
    live = sum(f.size_bytes for f in t.snapshot().files)
    changed = sum(s.rows for s in rec.samples if s.kind in ("cdc", "write"))
    bytes_per_row = inputs.kv_bytes / len(inputs.kv)
    return {
        "write_amp": (total - inputs.kv_bytes) / (changed * bytes_per_row) if changed else 0.0,
        "space_amp": (total - _du(t.log_dir)) / live if live else 0.0,
        "log_files": len(os.listdir(t.log_dir)),
    }


def check_reads(observed: list[tuple], log: FreshnessLog) -> tuple[dict[float, bool], bool]:
    """Failed reads (send time -> whether it was a stale 304) among the
    ``Reader.observed`` records, and whether every stale 304 among them
    is the known defect."""
    failed_at: dict[float, bool] = {}
    known = True
    for qid, sent, received, status, fp, etag_time in observed:
        if status == 304:
            if log.is_stale_304(qid, etag_time, sent):
                failed_at[sent] = True
                known &= qid in KNOWN_STALE
        elif not (status == 200 and fp in log.acceptable(qid, sent, received)):
            failed_at[sent] = False
    return failed_at, known


def verify(engine, inputs: Inputs, rec) -> tuple[bool, dict]:
    """Replay the writes on the model, then hold every observed read, every
    304 and the final tables against it. Marks failed samples in ``rec``;
    returns whether the output is correct (no wrong read, warm-up reads
    included; no stale 304 beyond the known defect; right final ``kv``
    and ``kv_mv``), and kv's storage figures."""
    storage = _storage(engine, inputs, rec)
    model = Model(inputs.kv)
    log = FreshnessLog(model.fingerprints())
    for start, end, op, payload in sorted(inputs.writes, key=lambda w: w[0]):
        model.apply(op, payload)
        log.record(start, end, model.fingerprints())
    failed_at, correct = check_reads(inputs.reader.observed, log)
    measured = set()
    for smp in rec.samples:
        if smp.sent in failed_at:
            smp.ok = False
            smp.stale = failed_at[smp.sent]
            measured.add(smp.sent)
    # a failed warm-up read has no sample; it still makes the output wrong
    correct &= not any(not stale for sent, stale in failed_at.items() if sent not in measured)
    ctx = engine.ctx
    got = ctx.execute(f"SELECT {', '.join(KV_COLS)} FROM kv").toPandas()
    want = model.kv.reset_index(drop=True)
    got = got.sort_values("o_orderkey").reset_index(drop=True)
    want = want.sort_values("o_orderkey").reset_index(drop=True)[KV_COLS]
    kv_ok = len(got) == len(want) and all(
        (got[c].to_numpy() == want[c].to_numpy()).all() for c in KV_COLS
    )
    ctx.execute("REFRESH MATERIALIZED VIEW kv_mv")
    model.apply("refresh", None)
    mv = tuple(tuple(r) for r in ctx.execute(TRACKED["matview"]).collect())
    return correct and kv_ok and mv == model.mv, storage
