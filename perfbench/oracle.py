"""Independent answers for every timed op, and the comparator.

The engine's results are checked against ``oracle_engine.OracleIndex``
(pure Python/numpy, no Spark), built over the same generated turns with
doc ids assigned here from the same ordering rule the engine documents:
dense ranks over (conv_id, turn_idx), offset per NRT delta.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from lucene_solr_spark.index.norms import encode_norm
from lucene_solr_spark.oracle_engine import OracleIndex
from lucene_solr_spark.search.bm25 import avg_field_length
from lucene_solr_spark.search.query import (
    BooleanQuery,
    DisMaxQuery,
    PhraseQuery,
    Query,
    TermQuery,
    rewrite,
)

# The engine scores in float64, the oracle in float32 (BM25Similarity's
# order of operations), so scores agree to float32 rounding of a sum of a
# few terms. Relative tolerance, with an absolute floor for tiny scores.
SCORE_REL_TOL = 1e-5
SCORE_ABS_TOL = 1e-6


def numbered(turns: pd.DataFrame, offset: int = 0) -> pd.DataFrame:
    """Turns with ``doc_id`` = offset + dense rank by (conv_id, turn_idx)."""
    out = turns.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    out["doc_id"] = np.arange(offset, offset + len(out), dtype=np.int64)
    return out


def merged(parts: list[OracleIndex]) -> OracleIndex:
    """One oracle over several oracles with disjoint, increasing doc-id
    ranges (NRT deltas): postings lists concatenate, collection stats
    are recomputed exactly as OracleIndex.__init__ does."""
    out = OracleIndex.__new__(OracleIndex)
    out.postings = {}
    out.dl = {}
    for part in parts:
        out.dl.update(part.dl)
        for term, plist in part.postings.items():
            out.postings.setdefault(term, []).extend(plist)
    out.max_doc = len(out.dl)
    out.sum_ttf = int(sum(out.dl.values()))
    out.avgdl = avg_field_length(out.sum_ttf, out.max_doc)
    ids = np.asarray(sorted(out.dl), dtype=np.int64)
    nbs = encode_norm(np.asarray([out.dl[i] for i in ids], dtype=np.int64))
    out.norm_byte = dict(zip(ids.tolist(), nbs.tolist()))
    return out


def _terms(clauses, occur: str) -> list[str]:
    return [c.query.term for c in clauses if c.occur == occur]


def evaluate(oracle: OracleIndex, q: Query) -> dict[int, np.float32]:
    """All matching docs with scores, for the query shapes the benchmark
    issues. Any other shape raises, so an unchecked op cannot slip in."""
    q = rewrite(q)
    if isinstance(q, TermQuery) and q.boost == 1.0:
        return oracle.query_term(q.term)
    if isinstance(q, PhraseQuery) and q.slop == 0 and q.boost == 1.0:
        return oracle.query_phrase(list(q.terms))
    if isinstance(q, DisMaxQuery) and all(
        isinstance(s, TermQuery) and s.boost == 1.0 for s in q.queries
    ):
        return oracle.query_dismax([s.term for s in q.queries], q.tie_breaker)
    if isinstance(q, BooleanQuery) and all(
        isinstance(c.query, TermQuery) and c.query.boost == 1.0
        for c in q.clauses
    ):
        must = _terms(q.clauses, "MUST")
        should = _terms(q.clauses, "SHOULD")
        must_not = _terms(q.clauses, "MUST_NOT")
        if must and not should and q.min_should_match == 0:
            if must_not:
                return oracle.query_not(must, must_not)
            return oracle.query_and(must)
        if should and not must and not must_not:
            return oracle.query_or(should, max(1, q.min_should_match))
    raise ValueError(f"no oracle evaluation for query shape {q!r}")


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= max(SCORE_ABS_TOL, SCORE_REL_TOL * abs(b))


def compare_top_k(
    got: list[tuple[int, float]],
    expected_scores: dict[int, float],
    k: int,
) -> str | None:
    """None when ``got`` is a correct top-k of ``expected_scores``,
    otherwise a one-line reason.

    Ties at the k-th score may be broken either way: any doc whose
    expected score equals (within tolerance) the k-th expected score is
    an acceptable occupant of the tied slots. Every doc scoring strictly
    above the k-th score must be present; every returned score must
    match its doc's expected score within tolerance, and the list must
    be in non-increasing score order.
    """
    ranked = sorted(expected_scores.items(), key=lambda kv: (-float(kv[1]), kv[0]))
    want_len = min(k, len(ranked))
    if len(got) != want_len:
        return f"got {len(got)} hits, expected {want_len}"
    if not got:
        return None
    for doc, score in got:
        if doc not in expected_scores:
            return f"doc {doc} does not match the query"
        if not _close(float(score), float(expected_scores[doc])):
            return f"doc {doc} score {score!r} != {float(expected_scores[doc])!r}"
    for (_, a), (_, b) in zip(got, got[1:]):
        if float(b) > float(a) and not _close(float(b), float(a)):
            return "hits are not in descending score order"
    kth = float(ranked[want_len - 1][1])
    got_docs = {doc for doc, _ in got}
    if len(got_docs) != len(got):
        return "duplicate doc in hits"
    for doc, score in ranked:
        s = float(score)
        if s > kth and not _close(s, kth) and doc not in got_docs:
            return f"doc {doc} (score {s!r}) missing from the top {k}"
        if s < kth:
            break
    for doc in got_docs:
        s = float(expected_scores[doc])
        if s < kth and not _close(s, kth):
            return f"doc {doc} (score {s!r}) below the k-th score {kth!r}"
    return None
