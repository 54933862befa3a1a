"""Golden answers from the pure-Python reference index and the check
that every engine answer matches them.

An answer passes when it has the same length as the oracle's top-k,
the same doc_id at every rank, and every score within ``REL_TOL`` of
the oracle's. Docs whose scores tie (within the tolerance) may appear
in any order, and a tie group cut by the k boundary may be any subset
of its members: both orders are correct top-k answers.
"""
from __future__ import annotations

import math
from dataclasses import dataclass, field

from textindex_spark.refimpl.oracle import OracleIndex

from perfbench.inputs import Query

REL_TOL = 1e-9
_TIE_DEPTH = 64  # oracle answers are computed this far past k


@dataclass
class SnapshotOracle(OracleIndex):
    """The reference index of one snapshot of an appended index.

    A doc replaced by ``append_batch(replace_by_url=True)`` is
    tombstoned, not purged: it leaves n_docs and avgdl at once, but its
    postings — and so its share of every term's df — stay until
    ``purge_deleted`` (the engine's documented upsert semantics).
    ``ghost_df`` carries that share."""

    ghost_df: dict[str, int] = field(default_factory=dict)

    def df(self, term: str) -> int:
        return len(self.postings.get(term, ())) + self.ghost_df.get(term, 0)


def apply_batch(oracle: SnapshotOracle, added: list[dict]) -> None:
    """Advance the oracle to the next snapshot of a
    ``replace_by_url=True`` append of ``added``: index the rows that
    survive the filters, tombstone the live docs whose url one of them
    carries, then recompute n_docs and avgdl."""
    fresh = OracleIndex.build(added)
    urls = {doc["url"] for doc in fresh.docs.values()}
    removed = {d for d, doc in oracle.docs.items() if doc["url"] in urls}
    for d in removed:
        del oracle.docs[d]
    for term in list(oracle.postings):
        plist = oracle.postings[term]
        for d in removed & plist.keys():
            del plist[d]
            oracle.ghost_df[term] = oracle.ghost_df.get(term, 0) + 1
        if not plist:
            del oracle.postings[term]
    oracle.docs.update(fresh.docs)
    for term, plist in fresh.postings.items():
        oracle.postings.setdefault(term, {}).update(plist)
    total = sum(doc["doc_len"] for doc in oracle.docs.values())
    oracle.n_docs = len(oracle.docs)
    oracle.avgdl = total / oracle.n_docs if oracle.n_docs else 0.0


def _bool_answer(oracle: OracleIndex, q: Query, depth: int) -> list[tuple[int, float]]:
    def docs_of(pattern: str) -> set[int]:
        out: set[int] = set()
        for v in oracle.expand(pattern):
            out.update(oracle.postings[v])
        return out

    cand: set[int] | None = None
    for t in q.must:
        cand = docs_of(t) if cand is None else cand & docs_of(t)
    if q.should:
        any_should = set().union(*(docs_of(t) for t in q.should))
        cand = any_should if cand is None else cand & any_should
    for t in q.must_not:
        cand = (cand or set()) - docs_of(t)
    positive = sorted({v for t in q.must + q.should for v in oracle.expand(t)})
    scores = {}
    for d in cand or ():
        scores[d] = sum(
            oracle.weight(v, d, oracle.postings[v][d])
            for v in positive
            if d in oracle.postings[v]
        )
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:depth]


def answer(oracle: OracleIndex, q: Query) -> list[tuple[int, float]]:
    """Oracle ranking for ``q``, ``_TIE_DEPTH`` ranks past k."""
    depth = q.k + _TIE_DEPTH
    if q.kind == "bool":
        return _bool_answer(oracle, q, depth)
    return oracle.search(
        list(q.terms), depth, mode=q.mode,
        exclude=list(q.exclude) or None, scope=q.scope,
    )


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)


def mismatch(got: list[tuple[int, float]], expected: list[tuple[int, float]], k: int) -> str | None:
    """None when ``got`` is a correct top-k for the oracle ranking
    ``expected``; otherwise a one-line reason."""
    want = expected[:k]
    if len(got) != len(want):
        return f"{len(got)} results, oracle has {len(want)}"
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if not _close(gs, ws):
            return f"rank {i}: score {gs!r} != oracle {ws!r}"
        if gd != wd:
            tied = {d for d, s in expected if _close(s, ws)}
            if gd not in tied or wd not in tied:
                return f"rank {i}: doc {gd} != oracle doc {wd}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc_id in the answer"
    return None
