"""Seeded inputs for the benchmark.

Two kinds of input are made here, and the engine only ever sees their
output:

* ``base_tables`` — the ten TPC-H-shaped sf0.1 tables (plus ``events``,
  ``documents`` and ``embeddings``) the pipeline registry and the serving
  workloads read. They are generated once per checkout from a FIXED seed
  (the base data does not vary between runs, as a real deployment's data
  does not vary between requests) and cached as one parquet file each.
* everything a run varies — query parameters, filler-table contents,
  search terms and the CDC change stream — is derived from the run's
  ``--seed`` by the functions below that take an ``rng``.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
# bump when the generator's output changes, so a stale cache is rebuilt
GEN_VERSION = 1

# sf0.1 row counts (lineitem is derived from the per-order line counts)
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_EVENTS = 100_000
N_DOCS = 5_000
N_EMBED = 2_000
EMBED_DIM = 64
ENGINE_PARTS = 4

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "spark window merge table column vector stream value data small sort "
    "part line order filter group hash join customer big slow key fast row "
    "the agg query a scan batch"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _strings(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: np.datetime64, offsets: np.ndarray) -> pa.Array:
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def make_document(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def base_tables(seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """The sf0.1 tables, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": _strings(SEGMENTS, rng.integers(0, 5, N_CUSTOMER)),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
    })
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
        "p_name": _strings(names, rng.integers(0, len(names), N_PART)),
        "p_brand": _strings([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, N_PART)),
        "p_type": _strings(PART_TYPES, rng.integers(0, len(PART_TYPES), N_PART)),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)),
    })
    o_days = rng.integers(0, 2404, N_ORDERS)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS)),
        "o_orderstatus": _strings(["F", "O", "P"], rng.integers(0, 3, N_ORDERS)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": _days(_EPOCH_1995, o_days),
        "o_orderpriority": _strings(PRIORITIES, rng.integers(0, 5, N_ORDERS)),
    })
    lines = np.clip(rng.binomial(16, 0.25, N_ORDERS), 0, 17)
    lines[lines == 0] = 1
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenum = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    partkey = rng.integers(0, N_PART, n_li)
    ship = np.repeat(o_days, lines) + rng.integers(1, 122, n_li)
    perm = rng.permutation(n_li)  # rows are not stored in key order
    li = {
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li),
        "l_linenumber": linenum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (partkey % 1000) * 0.1) * rng.uniform(0.9, 1.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
    }
    rf = rng.integers(0, 3, n_li)
    ls = rng.integers(0, 2, n_li)
    out["lineitem"] = pa.table({
        **{k: pa.array(v[perm]) for k, v in li.items()},
        "l_returnflag": _strings(["A", "N", "R"], rf[perm]),
        "l_linestatus": _strings(["F", "O"], ls[perm]),
        "l_shipdate": _days(_EPOCH_1995, ship[perm]),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, N_EVENTS))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS)),
        "event_type": _strings(EVENT_TYPES, rng.integers(0, 5, N_EVENTS)),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 50 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup queries'
            # candidate pairs
            src = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(src)))
            texts.append(" ".join(src[:j] + ["dup"] + src[j:]))
        else:
            texts.append(make_document(rng, int(rng.integers(8, 100))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _strings(LANGS, rng.choice(len(LANGS), N_DOCS, p=LANG_P)),
        "source": _strings([f"src{i}" for i in range(20)], rng.integers(0, 20, N_DOCS)),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = rng.integers(0, 10, N_EMBED)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (N_EMBED, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_EMBED, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return out


def engine_files(base_dir: str, name: str) -> list[str]:
    d = os.path.join(base_dir, "engine", name)
    return [os.path.join(d, f) for f in sorted(os.listdir(d))]


def ensure_base_data(cache_root: str) -> str:
    """Write the base tables under ``cache_root`` once; return their dir.

    The directory name carries the generator version, and it appears
    atomically (written to a temp dir, then renamed), so a run never reads
    a half-written cache."""
    target = os.path.join(cache_root, f"sf0.1-v{GEN_VERSION}")
    if os.path.isdir(target):
        return target
    os.makedirs(cache_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="gen-", dir=cache_root)
    try:
        for name, table in base_tables().items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
            # the engine's copy is split, so scans of the large tables
            # get one task per core as a Spark-written table would
            parts = ENGINE_PARTS if table.num_rows >= 100_000 else 1
            os.makedirs(os.path.join(tmp, "engine", name))
            step = -(-table.num_rows // parts)
            for i in range(parts):
                pq.write_table(
                    table.slice(i * step, step),
                    os.path.join(tmp, "engine", name, f"part-{i:03d}.parquet"),
                )
        os.rename(tmp, target)
    except OSError:
        if not os.path.isdir(target):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return target


# ---------------------------------------------------------------- per-run


FILLER_TYPES = {
    "BIGINT": lambda rng, n: pa.array(rng.integers(-10**9, 10**9, n)),
    "INT": lambda rng, n: pa.array(rng.integers(-10**6, 10**6, n).astype(np.int32)),
    "DOUBLE": lambda rng, n: pa.array(np.round(rng.normal(0, 1000, n), 3)),
    "STRING": lambda rng, n: pa.array([f"v{x}" for x in rng.integers(0, 1000, n)]),
    "BOOLEAN": lambda rng, n: pa.array(rng.integers(0, 2, n).astype(bool)),
    "DATE": lambda rng, n: pa.array(np.datetime64("2020-01-01") + rng.integers(0, 2000, n).astype("timedelta64[D]")),
}


def filler_tables(rng: np.random.Generator, n: int) -> dict[str, pa.Table]:
    """``n`` small tables of simple types, 2-6 columns and 20-500 rows.
    Their shapes are the same for every seed (so catalog-bind cost does
    not vary with the seed); their values come from ``rng``."""
    out = {}
    kinds = list(FILLER_TYPES)
    for i in range(n):
        rows = 20 + (i * 97) % 481
        cols = {"id": pa.array(np.arange(rows, dtype=np.int64))}
        for j in range(1 + i % 5):
            kind = kinds[(i + j) % len(kinds)]
            cols[f"c{j}_{kind.lower()}"] = FILLER_TYPES[kind](rng, rows)
        out[f"fill_{i:03d}"] = pa.table(cols)
    return out


def search_terms(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` two- or three-word queries over the document vocabulary."""
    return [
        " ".join(WORDS[j] for j in rng.choice(len(WORDS), int(rng.integers(2, 4)), replace=False))
        for _ in range(n)
    ]


class ChangeStream:
    """Seeded writes against ``kv`` (keyed on ``o_orderkey``): CDC batches
    and point UPDATE/DELETE/INSERTs. It tracks the live key set, so every
    update and delete names a live key and every insert a new one, and no
    key appears twice in one batch. The sequence of writes depends only on
    the seed."""

    def __init__(self, rng: np.random.Generator, live_keys: np.ndarray):
        self.rng = rng
        self.live = set(int(k) for k in live_keys)
        self._live_list = sorted(self.live)
        self._next_key = 10_000_000

    def _pick(self, n: int) -> list[int]:
        picked: set[int] = set()
        while len(picked) < n:
            k = self._live_list[int(self.rng.integers(0, len(self._live_list)))]
            if k in self.live:
                picked.add(k)
        return sorted(picked)

    def _new_key(self) -> int:
        self._next_key += 1
        return self._next_key

    def _row(self, key: int) -> dict:
        return {
            "o_orderkey": key,
            "o_custkey": int(self.rng.integers(0, N_CUSTOMER)),
            "o_orderstatus": ["F", "O", "P"][int(self.rng.integers(0, 3))],
            "o_totalprice": int(self.rng.integers(100_000, 50_000_000)) / 100.0,
            "o_orderpriority": PRIORITIES[int(self.rng.integers(0, 5))],
        }

    def _compact(self) -> None:
        if len(self._live_list) > 2 * len(self.live):
            self._live_list = sorted(self.live)

    def cdc_batch(self, n_update: int, n_insert: int, n_delete: int) -> dict:
        keys = self._pick(n_update + n_delete)
        updates = [
            {
                "o_orderkey": k,
                "o_orderstatus": ["F", "O", "P"][int(self.rng.integers(0, 3))],
                "o_totalprice": int(self.rng.integers(100_000, 50_000_000)) / 100.0,
            }
            for k in keys[:n_update]
        ]
        deletes = keys[n_update:]
        inserts = [self._row(self._new_key()) for _ in range(n_insert)]
        self.live.difference_update(deletes)
        for r in inserts:
            self.live.add(r["o_orderkey"])
            self._live_list.append(r["o_orderkey"])
        self._compact()
        return {"updates": updates, "inserts": inserts, "deletes": deletes}

    def point_update(self) -> dict:
        return {
            "o_orderkey": self._pick(1)[0],
            "o_totalprice": int(self.rng.integers(100_000, 50_000_000)) / 100.0,
        }

    def point_delete(self) -> int:
        k = self._pick(1)[0]
        self.live.discard(k)
        self._compact()
        return k

    def point_insert(self) -> dict:
        r = self._row(self._new_key())
        self.live.add(r["o_orderkey"])
        self._live_list.append(r["o_orderkey"])
        return r
