"""Shared plumbing: the engine process (Spark, context, the three
frontends), client connections, operation samples and /proc readings."""

from __future__ import annotations

import http.client
import json
import os
import shutil
import time
import urllib.parse
from contextlib import nullcontext
from dataclasses import dataclass, field
from hashlib import sha256

from . import procstat


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Engine:
    """One SparkSession, one SeafowlContext and its HTTP, pgwire and Flight
    frontends, all in this process, with data under ``workdir``."""

    def __init__(self, workdir: str, tracer=None):
        self.workdir = workdir
        self.tracer = tracer
        self.spark = None
        self.ctx = None
        self.http = self.pg = self.flight = None

    def start_spark(self) -> None:
        from seafowl_spark.session import build_session

        extra = {
            "spark.local.dir": os.path.join(self.workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata files in the system temp dir
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.workdir, 'tmp')}",
        }
        if self.tracer is not None:
            log_dir = os.path.join(self.workdir, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = build_session("perfbench", master=f"local[{cores()}]", extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")

    def start_context(self) -> None:
        from seafowl_spark.engine.context import SeafowlContext

        self.ctx = SeafowlContext(self.spark, os.path.join(self.workdir, "db"))

    def start_frontends(self) -> None:
        from seafowl_spark.engine.flight import start_flight_server
        from seafowl_spark.engine.pgwire import PgWireServer
        from seafowl_spark.engine.server import SeafowlServer

        self.http = SeafowlServer(self.ctx).start()
        self.pg = PgWireServer(self.ctx).start()
        self.flight = start_flight_server(self.ctx)

    def load_parquet_dir(self, name: str, files: list[str]) -> None:
        """Register parquet files as an engine table via CONVERT TO DELTA
        (the files are copied under the engine's data dir first)."""
        d = os.path.join(self.workdir, "load", name)
        os.makedirs(d, exist_ok=True)
        for i, f in enumerate(files):
            shutil.copyfile(f, os.path.join(d, f"part-{i:03d}.parquet"))
        self.ctx.execute(f"CONVERT '{d}' TO DELTA {name}")

    def stop(self) -> None:
        for srv in (self.http, self.pg):
            if srv is not None:
                srv.stop()
        if self.flight is not None:
            self.flight.shutdown()
            self.flight.wait()
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            # the JVM exits when its stdin closes; wait for it (and so for
            # its Python workers) rather than leave it to outlive the run
            if gateway is not None and gateway.proc is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)


class Client:
    """One client's connections to the three frontends."""

    def __init__(self, engine: Engine):
        from seafowl_spark.sources import pgclient
        import pyarrow.flight as flight

        self.http_port = engine.http.port
        self.pg = pgclient.connect(port=engine.pg.port, dbname=engine.ctx.database, sslmode="disable")
        self.flight = flight.FlightClient(f"grpc://127.0.0.1:{engine.flight.port}")

    def _http(self, method: str, path: str, body: bytes | None, headers: dict):
        conn = http.client.HTTPConnection("127.0.0.1", self.http_port, timeout=120)
        try:
            conn.request(method, path, body=body, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read(), resp
        finally:
            conn.close()

    def post(self, sql: str) -> tuple[int, list[dict]]:
        status, body, _ = self._http(
            "POST", "/q", json.dumps({"query": sql}).encode(),
            {"Content-Type": "application/json"},
        )
        if status != 200:
            return status, [{"error": body.decode(errors="replace")[:300]}]
        return status, [json.loads(line) for line in body.splitlines() if line]

    def get(self, sql: str, etag: str | None) -> tuple[int, str | None, list[dict]]:
        headers = {"X-Seafowl-Query": urllib.parse.quote(sql)}
        if etag:
            headers["If-None-Match"] = etag
        status, body, resp = self._http("GET", f"/q/{sha256(sql.encode()).hexdigest()}", None, headers)
        rows = [json.loads(line) for line in body.splitlines() if line] if status == 200 else []
        return status, resp.getheader("ETag"), rows

    def pg_query(self, sql: str) -> list[tuple]:
        cur = self.pg.cursor()
        try:
            return [tuple(r) for r in cur.execute(sql).fetchall()]
        finally:
            cur.close()

    def flight_query(self, sql: str):
        import pyarrow.flight as flight

        info = self.flight.get_flight_info(
            flight.FlightDescriptor.for_command(json.dumps({"query": sql}).encode())
        )
        return self.flight.do_get(info.endpoints[0].ticket).read_all()

    def flight_put(self, cmd: dict, table) -> None:
        import pyarrow.flight as flight

        desc = flight.FlightDescriptor.for_command(json.dumps(cmd).encode())
        writer, _ = self.flight.do_put(desc, table.schema)
        writer.write_table(table)
        writer.close()

    def flight_flush(self) -> None:
        import pyarrow.flight as flight

        list(self.flight.do_action(flight.Action("flush", b"")))

    def close(self) -> None:
        self.pg.close()
        self.flight.close()


@dataclass
class Sample:
    kind: str  # read | revalidate | write | cdc | refresh | maintenance | pass
    shape: str
    sent: float
    received: float
    ok: bool = True
    rows: int = 0
    frontend: str = ""
    tables: int = 0  # tables the statement references
    stale: bool = False  # a 304 served after its result changed
    executed: bool = False  # a revalidation answered 200, i.e. run again

    @property
    def ms(self) -> float:
        return (self.received - self.sent) * 1000.0


@dataclass
class Recorder:
    """Client-side record of every operation."""

    tracer: object = None
    samples: list[Sample] = field(default_factory=list)

    def span(self, kind: str):
        return self.tracer.op(kind) if self.tracer is not None else nullcontext()

    def add(self, s: Sample) -> Sample:
        self.samples.append(s)
        return s

    def of(self, *kinds: str) -> list[Sample]:
        return [s for s in self.samples if s.kind in kinds]

    def reads(self) -> list[Sample]:
        """Every read that executed: reads, and revalidations that missed."""
        return [s for s in self.samples if s.kind == "read" or (s.kind == "revalidate" and s.executed)]


def closed_loop(engine: Engine, step, seconds: float) -> tuple[float, float]:
    """One client sending its next operation when the last one returns:
    ``step(client)`` until ``seconds`` have passed. Returns the (start,
    end) of the measured window."""
    client = Client(engine)
    try:
        start = time.time()
        while time.time() < start + seconds:
            step(client)
        return start, time.time()
    finally:
        client.close()


def process_memory() -> dict[str, float]:
    me = os.getpid()
    jvm = procstat.jvm_pid(me)
    return {
        "driver.rss_mb": procstat.vm_hwm_mb(me),
        "jvm.rss_mb": procstat.vm_hwm_mb(jvm) if jvm else 0.0,
    }
