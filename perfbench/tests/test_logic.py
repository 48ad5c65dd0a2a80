"""Tests of the benchmark's own logic (no Spark needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import datagen
from perfbench.checks import Bm25Reference, FreshnessLog, rows_match, topk_matches
from perfbench.ingest_mixed import check_reads
from perfbench.serve_wide_catalog import _shapes
from perfbench.stats import percentile, samples_beyond, tail_supported
from perfbench.tracing import Span, innermost_open, self_times


# ---------------------------------------------------------------- percentile


def test_percentile_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert percentile(values, 50) == 50
    assert percentile(values, 95) == 95
    assert percentile(values, 100) == 100
    assert percentile([7.0], 95) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    values = list(range(1, 201))  # p95 = 190, ten samples above it
    assert samples_beyond(values, 95) == 10
    assert tail_supported(values, 95)
    assert not tail_supported(values[:199], 95)  # p95 = 190 -> 9 above
    assert not tail_supported([], 95)


# ---------------------------------------------------------------- self time


def _span(i, parent, name, start, end, op=1):
    return Span(i, parent, op, name, start, end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, "op.post", 0.0, 10.0),
        _span(2, 1, "context.execute", 1.0, 9.0),
        _span(3, 2, "context.reload_views", 2.0, 5.0),
        # two overlapping children on other threads: their union counts once
        _span(4, 2, "deltalite.snapshot", 4.0, 7.0),
        _span(5, 2, "deltalite.snapshot", 6.0, 8.0),
        # a child running past its parent's end is clipped
        _span(6, 3, "catalyst.sql", 4.5, 6.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(2.0)  # 10 - 8
    assert st[2] == pytest.approx(8.0 - 6.0)  # the children's union [2, 8]
    assert st[3] == pytest.approx(3.0 - 0.5)
    assert st[4] == pytest.approx(3.0)
    assert st[6] == pytest.approx(1.5)


def test_job_goes_to_innermost_open_span():
    spans = [
        _span(1, None, "op.post", 0.0, 10.0),
        _span(2, 1, "server.jsonlines", 3.0, 6.0),
    ]
    assert innermost_open(spans, 4.0).name == "server.jsonlines"
    assert innermost_open(spans, 1.0).name == "op.post"
    assert innermost_open(spans, 11.0) is None


# ---------------------------------------------------------------- freshness


def _log():
    log = FreshnessLog({"view": (10, 100), "kv": (10, 100)})
    # commit 1 changes the view's result, commit 2 changes kv's only
    log.record(5.0, 6.0, {"view": (11, 120), "kv": (11, 120)})
    log.record(8.0, 9.0, {"view": (11, 120), "kv": (11, 130)})
    return log


def test_stale_304_detected():
    # ETag arrived at 4.0, the view changed at [5, 6], revalidated at 7.0
    assert _log().is_stale_304("view", etag_received=4.0, revalidation_sent=7.0)


def test_fresh_304_not_flagged():
    log = _log()
    # ETag issued after the change: fresh
    assert not log.is_stale_304("view", etag_received=6.5, revalidation_sent=10.0)
    # commit 2 left the view's result unchanged: fresh
    assert not log.is_stale_304("view", etag_received=7.0, revalidation_sent=10.0)
    # the commit overlaps the revalidation: could fall either side
    assert not log.is_stale_304("view", etag_received=4.0, revalidation_sent=5.5)


def test_only_the_known_stale_304_keeps_the_output_correct():
    log = _log()
    # (query, sent, received, status, fingerprint, ETag arrival time)
    view_stale = ("view", 7.0, 7.1, 304, None, 4.0)
    kv_stale = ("kv", 9.5, 9.6, 304, None, 7.0)
    kv_fresh = ("kv", 9.5, 9.6, 304, None, 9.2)
    wrong_read = ("kv", 9.7, 9.8, 200, (11, 120), None)
    assert check_reads([view_stale, kv_fresh], log) == ({7.0: True}, True)
    assert check_reads([kv_stale], log) == ({9.5: True}, False)
    assert check_reads([wrong_read], log) == ({9.7: False}, True)


def test_acceptable_states_of_a_concurrent_read():
    log = _log()
    assert log.acceptable("kv", 1.0, 2.0) == {(10, 100)}
    assert log.acceptable("kv", 5.5, 8.5) == {(10, 100), (11, 120), (11, 130)}
    assert log.acceptable("kv", 9.5, 9.6) == {(11, 130)}


# ---------------------------------------------------------------- checks


def test_rows_match_tolerates_last_bit_float_differences_only():
    assert rows_match([(1, 0.1 + 0.2), ("a", 2)], [("a", 2), (1, 0.3)])
    assert not rows_match([(1, 0.31)], [(1, 0.3)])
    assert not rows_match([(1, 0.3)], [(1, 0.3), (2, 0.1)])


def test_bm25_topk_ties_and_omissions():
    ref = Bm25Reference([(1, "spark spark join"), (2, "spark"), (3, "join join"), (4, "scan")])
    scores = ref.scores("spark join")
    assert set(scores) == {1, 2, 3}
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    assert topk_matches(ranked[:2], scores, 2)
    assert not topk_matches(ranked[1:3], scores, 2)  # best document left out
    assert not topk_matches([(ranked[0][0], ranked[0][1] + 0.1), ranked[1]], scores, 2)


# ---------------------------------------------------------------- seeding


def _inputs(seed: int):
    rng = np.random.default_rng([seed, 1])
    stream = datagen.ChangeStream(rng, np.arange(1000))
    return (
        [q.sql for q in _shapes(rng)],
        {k: t.to_pydict() for k, t in datagen.filler_tables(rng, 5).items()},
        datagen.search_terms(rng, 5),
        [stream.cdc_batch(7, 3, 2) for _ in range(3)],
        (stream.point_update(), stream.point_delete(), stream.point_insert()),
    )


def test_same_seed_same_inputs():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)


def test_change_stream_targets_live_keys_once_per_batch():
    stream = datagen.ChangeStream(np.random.default_rng(3), np.arange(200))
    live = set(range(200))
    for _ in range(20):
        b = stream.cdc_batch(20, 5, 5)
        touched = [u["o_orderkey"] for u in b["updates"]] + b["deletes"]
        assert len(set(touched)) == len(touched)
        assert set(touched) <= live
        new = {r["o_orderkey"] for r in b["inserts"]}
        assert not new & live
        live = (live - set(b["deletes"])) | new
    assert live == stream.live


def test_base_tables_are_deterministic():
    a, b = datagen.base_tables(), datagen.base_tables()
    assert all(a[n].equals(b[n]) for n in datagen.TABLES)
    assert a["lineitem"].num_rows > 500_000
