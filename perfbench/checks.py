"""Result checks against ``oracle/oracle.py``, run outside the timed window.

The oracle is a single-node pure-Python index; the engine's answers are
compared to it document by document and score by score.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from oracle import oracle

REL_TOL = 1e-9


@dataclass
class Snapshot(oracle.OracleIndex):
    """An ``OracleIndex`` whose ``avgdl`` is fixed when the snapshot is
    taken. ``oracle.search_bm25`` reads ``avgdl`` once per posting and the
    base property re-sums every document length each time, which makes
    a head-term query quadratic in the corpus size."""

    frozen_avgdl: float = 0.0

    @property
    def avgdl(self) -> float:
        return self.frozen_avgdl


class GrowingOracle:
    """The oracle index over a corpus that grows by whole drops."""

    def __init__(self) -> None:
        self.index = oracle.OracleIndex()

    def add(self, docs: list[tuple[int, str]]) -> None:
        """``docs`` = [(doc_id, stored text)], already filtered the way the
        engine filters pages (English, non-empty text)."""
        part = oracle.build_index(docs, html=False)
        self.index.n_docs += part.n_docs
        self.index.doc_len.update(part.doc_len)
        for term, posting in part.postings.items():
            self.index.postings.setdefault(term, {}).update(posting)

    def snapshot(self) -> Snapshot:
        idx = self.index
        return Snapshot(n_docs=idx.n_docs, postings=idx.postings,
                        doc_len=idx.doc_len, frozen_avgdl=idx.avgdl)


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)


def topk_mismatch(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """None when ``got`` equals the oracle's top-k, else a description.

    Scores must agree to ``REL_TOL``. Documents must agree within each
    block of tied scores; the last block may be cut by k, so there only
    the scores are compared (both sides break ties by doc_id, but a
    last-bit score difference can reorder a tie)."""
    if len(got) != len(want):
        return f"{len(got)} hits, oracle has {len(want)}"
    for i, ((_, gs), (_, ws)) in enumerate(zip(got, want)):
        if not close(gs, ws):
            return f"rank {i + 1}: score {gs!r}, oracle {ws!r}"
    start = 0
    while start < len(want):
        end = start + 1
        while end < len(want) and close(want[end][1], want[start][1]):
            end += 1
        if end < len(want) and {d for d, _ in got[start:end]} != {d for d, _ in want[start:end]}:
            return f"ranks {start + 1}-{end}: docs {got[start:end]}, oracle {want[start:end]}"
        start = end
    return None


def check_queries(snap: oracle.OracleIndex, queries: list[str],
                  got: dict[int, list[tuple[int, float]]], k: int = 10) -> dict[int, str]:
    """Compare the engine's per-query top-k (``got[query_index]``) with
    ``oracle.search_bm25``; returns a message per mismatching query index."""
    errors = {}
    for qi, q in enumerate(queries):
        msg = topk_mismatch(got.get(qi, []), oracle.search_bm25(snap, q, k))
        if msg:
            errors[qi] = f"query {q!r}: {msg}"
    return errors


def check_stats(snap: oracle.OracleIndex, n_docs: int, avgdl: float) -> list[str]:
    errors = []
    if n_docs != snap.n_docs:
        errors.append(f"n_docs {n_docs}, oracle {snap.n_docs}")
    if not close(avgdl, snap.avgdl):
        errors.append(f"avgdl {avgdl!r}, oracle {snap.avgdl!r}")
    return errors
