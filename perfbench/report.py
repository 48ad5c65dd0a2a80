"""Metrics from one run: end-to-end metrics from the client samples, and
per-layer metrics from the spans, counters, Spark event log and /proc."""

from __future__ import annotations

from collections import defaultdict
from statistics import median

from .stats import percentile, samples_beyond, tail_supported
from .tracing import innermost_open, layer_of, self_times

WRITE_KINDS = ("write", "cdc", "refresh", "maintenance")
DELTALITE_WRITES = (
    "deltalite.append", "deltalite.update", "deltalite.delete",
    "deltalite.merge", "deltalite.optimize", "deltalite.commit",
)


def _p50(values: list[float]) -> float:
    return median(values) if values else 0.0


def ops(rec) -> list:
    return [s for s in rec.samples if s.kind != "pass"]


def end_to_end(rec, window: tuple[float, float], setup_s: float) -> dict:
    """name -> (value, unit, samples). Completed operations per second is
    the gated load metric: latency medians moved 2-3 times as much as it
    when the host slowed for a run (short reads suffer most), and their
    run-to-run spread exceeded the bound. A failed operation (an error, a
    wrong result, a stale 304) is not a completed one."""
    done = [s for s in ops(rec) if s.ok]
    return {
        "setup_s": (setup_s, "s", 1),
        "ops_per_s": (len(done) / (window[1] - window[0]), "ops/s", len(done)),
    }


def workload_level(rec, mem: dict) -> dict:
    """The workload-specific client metrics (0 where the workload has no
    such operation) and the process's peak memory. Reported from the
    traced run: their run-to-run spread is too wide to gate on."""
    reads = [s.ms for s in rec.reads()]
    writes = [s.ms for s in rec.of("write")]
    cdc = rec.of("cdc")
    exports = [s for s in rec.of("read") if s.shape.startswith("export")]
    passes = [s.received - s.sent for s in rec.of("pass")]
    done = ops(rec)
    failed = sum(1 for s in done if not s.ok)

    def rate(samples) -> float:
        busy = sum(s.received - s.sent for s in samples)
        return sum(s.rows for s in samples) / busy if busy else 0.0

    return {
        "read_p50_ms": (_p50(reads), "ms", len(reads)),
        "read_p95_ms": (percentile(reads, 95) if reads else 0.0, "ms", len(reads)),
        "revalidate_p50_ms": (_p50([s.ms for s in rec.of("revalidate")]), "ms", len(rec.of("revalidate"))),
        "write_p50_ms": (_p50(writes), "ms", len(writes)),
        "write_p95_ms": (percentile(writes, 95) if writes else 0.0, "ms", len(writes)),
        "cdc_rows_per_s": (rate(cdc), "rows/s", len(cdc)),
        "refresh_p50_ms": (_p50([s.ms for s in rec.of("refresh")]), "ms", len(rec.of("refresh"))),
        "export_rows_per_s": (rate(exports), "rows/s", len(exports)),
        "pipeline_pass_s": (_p50(passes), "s", len(passes)),
        "failed_frac": (failed / len(done) if done else 0.0, "ratio", len(done)),
        "peak_rss_mb": (mem["driver.rss_mb"] + mem["jvm.rss_mb"], "MB", 1),
    }


def notes(rec) -> list[str]:
    """Per-shape medians and whether the read p95 is supported."""
    by_shape: dict[str, list[float]] = defaultdict(list)
    for s in ops(rec):
        by_shape[f"{s.kind}/{s.shape}"].append(s.ms)
    out = [f"{k:34s} p50 {median(v):10.1f} ms  n={len(v)}" for k, v in sorted(by_shape.items())]
    reads = [s.ms for s in rec.reads()]
    if reads:
        enough = "enough" if tail_supported(reads, 95) else "too few"
        out.append(f"read p95 has {samples_beyond(reads, 95)} samples beyond it ({enough} to gate on it)")
    return out


def _descends(span, ancestor_name: str, by_id: dict) -> bool:
    p = by_id.get(span.parent)
    while p is not None:
        if p.name == ancestor_name:
            return True
        p = by_id.get(p.parent)
    return False


def per_layer(tracer, rec, events: dict, window, cpu_s: float, mem: dict, storage: dict) -> tuple[dict, dict]:
    """(metrics, breakdown). Time metrics named ``<span>_ms`` are the span's
    self time per client operation."""
    spans = [s for s in tracer.spans if s.op is not None and window[0] <= s.start <= window[1]]
    by_id = {s.id: s for s in spans}
    roots = sorted((s for s in spans if s.parent is None), key=lambda s: s.start)
    n_ops = max(1, len(roots))
    st = self_times(spans)
    self_by_name: dict[str, float] = defaultdict(float)
    count: dict[str, int] = defaultdict(int)
    for s in spans:
        self_by_name[s.name] += st[s.id]
        count[s.name] += 1

    def per_op_ms(name: str) -> float:
        return 1000.0 * self_by_name[name] / n_ops

    samples = sorted(ops(rec), key=lambda s: s.sent)
    stmts = max(1, count["context.execute"])
    # tables a statement references (declared by the benchmark) against
    # the tables its catalog bind loaded (snapshots inside reload_views)
    bound_by_op: dict[int, int] = defaultdict(int)
    for s in spans:
        if s.name == "deltalite.snapshot" and _descends(s, "context.reload_views", by_id):
            bound_by_op[s.op] += 1
    referenced = sum(smp.tables for root, smp in zip(roots, samples) if bound_by_op[root.id])
    bound = sum(bound_by_op.values())
    writes = max(1, len([s for s in samples if s.kind in WRITE_KINDS]))
    refreshes = max(1, count["matview.refresh"])
    searches = max(1, sum(1 for s in samples if s.shape == "search"))
    cdc_rows = sum(s.rows for s in samples if s.kind == "cdc")

    # Spark jobs, attributed to the innermost span open at submission
    jobs = [j for j in events["jobs"] if window[0] <= j.submit <= window[1]]
    attributed: dict[str, int] = defaultdict(int)
    stages: set[int] = set()
    for j in jobs:
        owner = innermost_open(spans, j.submit)
        attributed[owner.name if owner else "(none)"] += 1
        stages.update(sid for sid in j.stages if sid in events["stage_tasks"])

    scans = [sc for sc in events["scans"] if window[0] <= sc[0] <= window[1]]

    def by_frontend(frontend: str) -> float:
        return _p50([s.ms for s in rec.reads() if s.frontend == frontend])

    m = {
        "frontend.http_read_p50_ms": (by_frontend("http"), "ms"),
        "frontend.pgwire_read_p50_ms": (by_frontend("pgwire"), "ms"),
        "frontend.flight_read_p50_ms": (by_frontend("flight"), "ms"),
        "server.jsonlines_ms": (per_op_ms("server.jsonlines"), "ms/op"),
        "server.bytes_out": (tracer.bytes_out / n_ops, "B/op"),
        "pgwire.send_rows_ms": (per_op_ms("pgwire.send_rows"), "ms/op"),
        "flight.to_arrow_ms": (per_op_ms("flight.to_arrow"), "ms/op"),
        "context.execute_ms": (per_op_ms("context.execute"), "ms/op"),
        "context.reload_views_ms": (per_op_ms("context.reload_views"), "ms/op"),
        "context.reload_views_calls": (count["context.reload_views"] / stmts, "calls/stmt"),
        "context.tables_bound_per_stmt": (bound / stmts, "tables/stmt"),
        "context.bind_useful_ratio": (referenced / bound if bound else 0.0, "ratio"),
        "context.rewrite_ms": (per_op_ms("context.rewrite"), "ms/op"),
        "context.etag_ms": (per_op_ms("context.etag"), "ms/op"),
        "catalog.calls_per_stmt": (tracer.counts["catalog.calls"] / stmts, "calls/stmt"),
        "catalyst.sql_ms": (per_op_ms("catalyst.sql"), "ms/op"),
        "py4j.calls_per_op": (tracer.counts["py4j.calls"] / n_ops, "calls/op"),
        "spark.jobs_per_op": (len(jobs) / n_ops, "jobs/op"),
        "spark.stages_per_op": (len(stages) / n_ops, "stages/op"),
        "spark.tasks_per_op": (sum(events["stage_tasks"][s] for s in stages) / n_ops, "tasks/op"),
        "spark.task_ms_per_op": (sum(events["stage_task_ms"][s] for s in stages) / n_ops, "ms/op"),
        "spark.job_wall_ms_per_op": (1000.0 * sum(j.end - j.submit for j in jobs) / n_ops, "ms/op"),
        "spark.shuffle_bytes_per_op": (sum(events["stage_shuffle"][s] for s in stages) / n_ops, "B/op"),
        "spark.files_read_per_scan": (
            sum(n for _, n in scans) / len(scans) if scans else 0.0, "files/scan"),
        "python_worker.cpu_s": (cpu_s, "s"),
        "deltalite.snapshot_ms": (per_op_ms("deltalite.snapshot"), "ms/op"),
        "deltalite.snapshot_calls_per_op": (count["deltalite.snapshot"] / n_ops, "calls/op"),
        "deltalite.commit_ms": (
            1000.0 * sum(self_by_name[n] for n in DELTALITE_WRITES) / writes, "ms/write"),
        "deltalite.commits_per_write": (count["deltalite.commit"] / writes, "commits/write"),
        "deltalite.write_amp": (storage.get("write_amp", 0.0), "ratio"),
        "deltalite.space_amp": (storage.get("space_amp", 0.0), "ratio"),
        "deltalite.log_files": (storage.get("log_files", 0), "count"),
        "pruning.files_read_ratio": (
            tracer.pruned[0] / tracer.pruned[1] if tracer.pruned[1] else 0.0, "ratio"),
        "sync.enqueue_ms": (per_op_ms("sync.enqueue"), "ms/op"),
        "sync.flush_ms": (per_op_ms("sync.flush"), "ms/op"),
        "sync.rows_per_flush": (cdc_rows / count["sync.flush"] if count["sync.flush"] else 0.0, "rows/flush"),
        "matview.refresh_ms": (per_op_ms("matview.refresh"), "ms/op"),
        "matview.commits_per_refresh": (
            sum(1 for s in spans if s.name == "deltalite.commit" and _descends(s, "matview.refresh", by_id))
            / refreshes, "commits/refresh"),
        "search_index.lookup_ms": (per_op_ms("search_index.lookup"), "ms/op"),
        "search_index.probe_plans_per_stmt": (count["search_index.lookup"] / searches, "plans/stmt"),
        "driver.rss_mb": (mem["driver.rss_mb"], "MB"),
        "jvm.rss_mb": (mem["jvm.rss_mb"], "MB"),
    }

    # self-time shares by layer and by span, over all operations and over
    # read operations only
    read_samples = {id(s) for s in rec.reads()}
    read_ops = {root.id for root, smp in zip(roots, samples) if id(smp) in read_samples}

    def shares(keep) -> dict:
        by_layer: dict[str, float] = defaultdict(float)
        by_span: dict[str, float] = defaultdict(float)
        for s in spans:
            if keep(s):
                by_layer[layer_of(s.name)] += st[s.id]
                by_span[s.name] += st[s.id]
        total = sum(by_layer.values()) or 1.0
        return {
            "layers": {k: round(v / total, 4) for k, v in sorted(by_layer.items(), key=lambda kv: -kv[1])},
            "spans": {k: round(v / total, 4) for k, v in sorted(by_span.items(), key=lambda kv: -kv[1])},
        }

    breakdown = {
        "ops": len(roots),
        "self_time_share_all_ops": shares(lambda s: True),
        "self_time_share_read_ops": shares(lambda s: s.op in read_ops),
        "jobs_by_submitting_span": dict(sorted(attributed.items(), key=lambda kv: -kv[1])),
        "context_spans": sum(1 for s in spans if layer_of(s.name) == "context"),
    }
    return m, breakdown
