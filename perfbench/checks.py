"""Output and freshness checks.

* ``rows_match`` compares a result set from any frontend with the DuckDB
  answer for the same SQL.
* ``Bm25Reference`` scores the search lookups independently of the engine.
* ``FreshnessLog`` knows every write the benchmark issued, which query
  results each write changed, and when it ran; from that it decides
  whether a ``304`` was stale and which results a concurrent read may
  legitimately have returned.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

REL_TOL = 1e-9
ABS_TOL = 1e-6


def _sort_key(row: tuple):
    # floats are rounded for ordering only, so two engines' last-bit
    # differences cannot reorder the rows being compared
    return tuple(
        (0, "") if v is None
        else (1, round(v, 6)) if isinstance(v, float)
        else (1, v) if isinstance(v, (int, bool))
        else (2, str(v))
        for v in row
    )


def _value_match(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
        isinstance(a, bool) or isinstance(b, bool)
    ):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def rows_match(got: list[tuple], expected: list[tuple]) -> bool:
    """Same multiset of rows, floats equal within a relative 1e-9."""
    if len(got) != len(expected):
        return False
    g = sorted((tuple(r) for r in got), key=_sort_key)
    e = sorted((tuple(r) for r in expected), key=_sort_key)
    return all(
        len(x) == len(y) and all(_value_match(a, b) for a, b in zip(x, y))
        for x, y in zip(g, e)
    )


# ---------------------------------------------------------------- search


def _round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


class Bm25Reference:
    """BM25 as the engine documents it (operators/bm25.py): whitespace
    tokens of the lower-cased text, idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    each term's score rounded to 6 decimals before summing, ties broken by
    document id."""

    def __init__(self, docs: list[tuple[int, str]], k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.tf: dict[int, Counter] = {}
        self.dl: dict[int, int] = {}
        self.df: Counter = Counter()
        for doc_id, text in docs:
            toks = text.lower().split()
            self.tf[doc_id] = Counter(toks)
            self.dl[doc_id] = len(toks)
            self.df.update(set(toks))
        self.n = len(docs)
        self.avgdl = sum(self.dl.values()) / self.n

    def scores(self, query: str) -> dict[int, float]:
        terms = set(query.lower().split())
        out: dict[int, float] = {}
        for doc_id, tf in self.tf.items():
            total = 0.0
            hit = False
            for t in terms:
                f = tf.get(t, 0)
                if not f:
                    continue
                hit = True
                df = self.df[t]
                idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
                norm = f + self.k1 * (1.0 - self.b + self.b * self.dl[doc_id] / self.avgdl)
                total += _round6(idf * (f * (self.k1 + 1.0)) / norm)
            if hit:
                out[doc_id] = total
        return out


def topk_matches(got: list[tuple[int, float]], scores: dict[int, float], k: int) -> bool:
    """``got`` (id, score) is a valid top-k of ``scores``: right length,
    every score right, and no better-scoring document left out (documents
    tied with the k-th score within rounding are interchangeable)."""
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    if len(got) != min(k, len(ranked)):
        return False
    if not got:
        return True
    eps = 2e-6
    for doc_id, score in got:
        if doc_id not in scores or abs(scores[doc_id] - score) > eps:
            return False
    kth = min(score for _, score in got)
    must = {d for d, s in ranked if s > kth + eps}
    return must <= {d for d, _ in got}


# ---------------------------------------------------------------- freshness


@dataclass
class Commit:
    start: float
    end: float
    fps: dict[str, object]  # query id -> result fingerprint after the commit


@dataclass
class FreshnessLog:
    """Result fingerprints of the tracked queries across the (sequential)
    commits of one writer. ``initial`` is the state before any commit."""

    initial: dict[str, object]
    commits: list[Commit] = field(default_factory=list)

    def record(self, start: float, end: float, fps: dict[str, object]) -> None:
        self.commits.append(Commit(start, end, fps))

    def _state(self, i: int) -> dict[str, object]:
        return self.initial if i == 0 else self.commits[i - 1].fps

    def changed_by(self, i: int, query: str) -> bool:
        """Did commit ``i`` (1-based) change ``query``'s result?"""
        return self._state(i)[query] != self._state(i - 1)[query]

    def is_stale_304(self, query: str, etag_received: float, revalidation_sent: float) -> bool:
        """A 304 is stale when a commit that changed the query's result
        started after the response carrying the ETag arrived, and ended
        before the revalidation was sent. Commits overlapping either
        request could fall on either side of it, so they never count."""
        return any(
            c.start > etag_received and c.end < revalidation_sent and self.changed_by(i, query)
            for i, c in enumerate(self.commits, start=1)
        )

    def acceptable(self, query: str, sent: float, received: float) -> set:
        """Fingerprints a read sent at ``sent`` and answered at ``received``
        may show: any state from the last commit finished before it was
        sent to the last commit started before it was answered."""
        lo = sum(1 for c in self.commits if c.end < sent)
        hi = sum(1 for c in self.commits if c.start < received)
        return {self._state(i)[query] for i in range(lo, max(lo, hi) + 1)}


# ---------------------------------------------------------------- pipeline


def _normalize_frame(df):
    """Columns by name, nested values as lists, datetimes and objects as
    strings, rows sorted — the registry oracle's comparison convention."""
    import numpy as np

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith(("datetime", "object")):
            df[c] = df[c].map(
                lambda v: None if v is None else str(v.tolist() if isinstance(v, np.ndarray) else v)
            )
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def _exact(a, b) -> bool:
    import pandas as pd

    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):  # list-like values have no scalar isna
        pass
    return bool(a == b)


def frames_match(got, expected) -> bool:
    """Exact equality of two pandas frames after normalization."""
    g, e = _normalize_frame(got), _normalize_frame(expected)
    if list(g.columns) != list(e.columns) or len(g) != len(e):
        return False
    return all(
        all(_exact(a, b) for a, b in zip(g[c].tolist(), e[c].tolist())) for c in g.columns
    )
