"""Workload ``pipeline_batch``: one client over the 16 headline registry
queries at sf0.1, each written to the noop sink with the cache cleared
before it (the protocol of the repository's headline bench).

Why: Spark jobs and Python-worker Arrow stages carry all the work; no
frontend, statement plane or commit is involved (the traced run shows no
``context.*`` span here).

Should move it: Spark plan and operator changes, Python-worker stages in
``functions/``, ``queries/`` and ``operators/``. Should leave it
unchanged: statement-plane, frontend and write-path changes.

The inputs are the fixed sf0.1 tables; the seed only rotates the order
of the queries within each pass. Outputs are checked once per run, in an
untimed pass before the timed ones (it also warms the JVM and the Python
workers), against the registry's DuckDB oracle where one exists; the
oracle answers are computed once per checkout and cached.
"""

from __future__ import annotations

import os
import pickle
import time
from dataclasses import dataclass, field

import numpy as np

from .checks import frames_match
from .harness import Sample

QUERIES = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_forecast_revenue",
    "q_window_topk",
    "q_sessionize",
    "q_time_window",
    "t_exact_dedup",
    "t_token_stats",
    "s_minhash_lsh_pairs",
    "s_simhash_candidates",
    "s_ann_cosine_bruteforce",
    "s_ann_lsh_topk",
    "q_asof_join",
    "q_combined_pushdown",
    "m_payload_pipeline",
]


@dataclass
class Inputs:
    order: list[str]
    oracle: dict  # query name -> expected pandas frame
    base_dir: str
    registry: dict = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)


def _oracle_answers(base_dir: str) -> dict:
    """DuckDB answers of the registry oracles over the base tables,
    computed on first use and cached beside them (this program wrote the
    cache file, so it is safe to unpickle)."""
    path = os.path.join(base_dir, "pipeline_oracle.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    import duckdb

    from seafowl_spark.queries import load_all

    from . import datagen

    registry = load_all()
    con = duckdb.connect()
    for name in datagen.TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{base_dir}/{name}.parquet'")
    out = {
        name: con.execute(registry[name].oracle).fetchdf()
        for name in QUERIES
        if registry[name].oracle
    }
    con.close()
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(out, f)
    os.replace(tmp, path)
    return out


def prepare(seed: int, base_dir: str) -> Inputs:
    shift = int(np.random.default_rng([seed, 3]).integers(0, len(QUERIES)))
    return Inputs(QUERIES[shift:] + QUERIES[:shift], _oracle_answers(base_dir), base_dir)


def setup(engine, inputs: Inputs, base_dir: str) -> None:
    from seafowl_spark.queries import load_all

    inputs.registry = load_all()


def warm_up(engine, inputs: Inputs) -> None:
    """The check pass: every query once, collected and compared."""
    spark = engine.spark
    for name in inputs.order:
        spark.catalog.clearCache()
        got = inputs.registry[name].fn(spark, inputs.base_dir).toPandas()
        if name in inputs.oracle and not frames_match(got, inputs.oracle[name]):
            inputs.failures.append(name)


def measure(engine, inputs: Inputs, rec, seconds: float):
    spark = engine.spark
    start = time.time()
    while True:
        pass_start = time.time()
        for name in inputs.order:
            spark.catalog.clearCache()
            with rec.span("query"):
                sent = time.time()
                inputs.registry[name].fn(spark, inputs.base_dir).write.mode(
                    "overwrite"
                ).format("noop").save()
                received = time.time()
            rec.add(Sample("read", name, sent, received, True, 0, "spark"))
        rec.add(Sample("pass", "pass", pass_start, time.time()))
        if time.time() - start >= seconds:
            return start, time.time()


def verify(engine, inputs: Inputs, rec) -> tuple[bool, dict]:
    return not inputs.failures, {}
