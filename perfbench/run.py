"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine runs in this process: Spark at
``local[<cores>]``, one SeafowlContext, and its HTTP, pgwire and Flight
frontends; the client, one closed loop, is a thread of the same process. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` wraps the engine's layer entry
points, records spans and Spark's event log, and prints the per-layer
metrics (spans and a breakdown are written under ``.perfbench/traces``).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

Everything the run reads or writes stays under ``.perfbench/`` in the
checkout: the base sf0.1 tables are generated there on first use.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve_wide_catalog", "ingest_mixed", "pipeline_batch")


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "seafowl_spark")):
        print("perfbench: no seafowl_spark package next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    state = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(state, "runs", f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # the launcher JVM, like Spark's driver JVM, writes no perf-data files
    # outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        return _run(args, state, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _run(args: argparse.Namespace, state: str, workdir: str) -> int:
    import importlib

    from perfbench import datagen, procstat, report
    from perfbench.harness import Engine, Recorder, process_memory
    from perfbench.tracing import Tracer, read_event_log

    mod = importlib.import_module(f"perfbench.{args.workload}")
    base_dir = datagen.ensure_base_data(os.path.join(state, "cache"))
    inputs = mod.prepare(args.seed, base_dir)
    tracer = Tracer() if args.trace else None
    rec = Recorder(tracer)
    engine = Engine(workdir, tracer)
    try:
        t0 = time.time()
        engine.start_spark()
        if tracer is not None:
            tracer.install()
        engine.start_context()
        mod.setup(engine, inputs, base_dir)
        engine.start_frontends()
        setup_s = time.time() - t0
        mod.warm_up(engine, inputs)
        cpu0 = procstat.python_worker_cpu_s(os.getpid())
        window = mod.measure(engine, inputs, rec, args.seconds)
        cpu_s = procstat.python_worker_cpu_s(os.getpid()) - cpu0
        mem = process_memory()
        correct, storage = mod.verify(engine, inputs, rec)
    finally:
        if tracer is not None:
            tracer.uninstall()
        engine.stop()

    done = report.ops(rec)
    failed = sum(1 for s in done if not s.ok)
    # a stale 304 is a failed operation, and the workload's verify() says
    # whether it is the known defect; a wrong executed result always makes
    # the run's output incorrect
    correct = correct and not any(not s.ok and not s.stale for s in done)
    e2e = report.end_to_end(rec, window, setup_s)
    level = report.workload_level(rec, mem)
    if args.trace:
        events = read_event_log(os.path.join(workdir, "eventlog"))
        layers, breakdown = report.per_layer(tracer, rec, events, window, cpu_s, mem, storage)
        metrics = {**layers, **{k: v[:2] for k, v in level.items()}}
        _save_trace(state, args, tracer, breakdown, e2e, level)
    else:
        metrics = {k: v[:2] for k, v in e2e.items()}
        _save(os.path.join(state, "results", f"{args.workload}-{args.seed}.json"),
              {"end_to_end": e2e, "workload": level})
    for name, (value, unit, n) in {**e2e, **level}.items():
        print(f"{name:22s} {value:14.4f} {unit:8s} samples={n}")
    for line in report.notes(rec):
        print(f"# {line}")
    print(f"# attempted={len(done)} failed={failed} correct={correct}")
    print(json.dumps({
        "correct": bool(correct),
        "attempted": len(done),
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }))
    return 0


def _save(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)


def _save_trace(state, args, tracer, breakdown, e2e, level) -> None:
    """Spans and the breakdown; the tracing overhead is this run's
    end-to-end numbers minus the untraced run's with the same seed."""
    out = os.path.join(state, "traces", f"{args.workload}-{args.seed}")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, "spans.jsonl"))
    untraced_path = os.path.join(state, "results", f"{args.workload}-{args.seed}.json")
    overhead = None
    if os.path.exists(untraced_path):
        with open(untraced_path) as f:
            untraced = json.load(f)["end_to_end"]
        overhead = {k: e2e[k][0] - untraced[k][0] for k in e2e if k in untraced}
    _save(os.path.join(out, "report.json"), {
        **breakdown,
        "traced_end_to_end": e2e,
        "traced_workload": level,
        "tracing_overhead_vs_untraced": overhead,
    })


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
