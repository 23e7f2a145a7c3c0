import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.oracle_engine import OracleIndex
from lucene_solr_spark.search.qparser import parse_edismax, parse_lucene
from lucene_solr_spark.search.query import DisMaxQuery, TermQuery
from perfbench.oracle import compare_top_k, evaluate, merged, numbered


def test_tied_kth_score_may_be_broken_either_way():
    expected = {1: 5.0, 2: 4.0, 3: 3.0, 4: 3.0, 5: 1.0}
    # top-3: docs 3 and 4 tie at the 3rd score; either may fill the slot
    assert compare_top_k([(1, 5.0), (2, 4.0), (3, 3.0)], expected, 3) is None
    assert compare_top_k([(1, 5.0), (2, 4.0), (4, 3.0)], expected, 3) is None


def test_ties_within_tolerance_count_as_ties():
    expected = {1: 2.0, 2: np.float32(1.0), 3: 1.0 + 5e-7}
    assert compare_top_k([(1, 2.0), (2, 1.0)], expected, 2) is None
    assert compare_top_k([(1, 2.0), (3, 1.0)], expected, 2) is None


def test_a_doc_strictly_above_the_kth_score_must_be_present():
    expected = {1: 5.0, 2: 4.0, 3: 3.0, 4: 3.0}
    reason = compare_top_k([(1, 5.0), (3, 3.0), (4, 3.0)], expected, 3)
    assert reason is not None and "doc 2" in reason


def test_a_doc_below_the_kth_score_is_rejected():
    expected = {1: 5.0, 2: 4.0, 3: 3.0, 4: 1.0}
    assert compare_top_k([(1, 5.0), (2, 4.0), (4, 1.0)], expected, 3) is not None


def test_scores_must_match_within_tolerance():
    expected = {1: 5.0, 2: 4.0}
    assert compare_top_k([(1, 5.0), (2, 4.0 + 1e-3)], expected, 2) is not None
    assert compare_top_k([(1, 5.0), (2, 4.0 + 1e-6)], expected, 2) is None


def test_length_order_and_unknown_docs():
    expected = {1: 5.0, 2: 4.0, 3: 3.0}
    assert compare_top_k([(1, 5.0), (2, 4.0)], expected, 3) is not None
    assert compare_top_k([(2, 4.0), (1, 5.0), (3, 3.0)], expected, 3) is not None
    assert compare_top_k([(1, 5.0), (9, 4.0), (3, 3.0)], expected, 3) is not None
    assert compare_top_k([], {}, 10) is None
    assert compare_top_k([(1, 5.0)], {}, 10) is not None


@pytest.fixture(scope="module")
def turns():
    texts = [
        "error timeout cache", "error retry", "deploy error error",
        "cache miss timeout", "retry deploy cache", "error timeout",
    ]
    return pd.DataFrame({
        "conv_id": ["b", "a", "a", "c", "b", "a"],
        "turn_idx": [0, 2, 1, 0, 1, 0],
        "text": texts,
    })


def test_numbered_ranks_by_conversation_then_turn(turns):
    out = numbered(turns, offset=10)
    assert list(zip(out["conv_id"], out["turn_idx"])) == [
        ("a", 0), ("a", 1), ("a", 2), ("b", 0), ("b", 1), ("c", 0)
    ]
    assert out["doc_id"].tolist() == list(range(10, 16))


def test_evaluate_maps_each_issued_shape_to_the_oracle(turns):
    o = OracleIndex(numbered(turns))
    assert evaluate(o, parse_lucene("error")) == o.query_term("error")
    assert evaluate(o, parse_lucene("+error +timeout")) == o.query_and(
        ["error", "timeout"])
    assert evaluate(o, parse_lucene("error cache")) == o.query_or(
        ["error", "cache"])
    assert evaluate(o, parse_lucene("+error -retry")) == o.query_not(
        ["error"], ["retry"])
    assert evaluate(o, parse_lucene('"error timeout"')) == o.query_phrase(
        ["error", "timeout"])
    assert evaluate(o, parse_edismax("error cache retry", mm=2)) == o.query_or(
        ["error", "cache", "retry"], 2)
    dm = DisMaxQuery([TermQuery("error"), TermQuery("cache")], 0.1)
    assert evaluate(o, dm) == o.query_dismax(["error", "cache"], 0.1)
    with pytest.raises(ValueError):
        evaluate(o, parse_lucene("err*"))


def test_merged_deltas_equal_one_oracle_over_all_turns(turns):
    a = numbered(turns.iloc[:3], offset=0)
    b = numbered(turns.iloc[3:], offset=3)
    whole = OracleIndex(pd.concat([a, b], ignore_index=True))
    m = merged([OracleIndex(a), OracleIndex(b)])
    assert (m.max_doc, m.sum_ttf, m.avgdl) == (
        whole.max_doc, whole.sum_ttf, whole.avgdl)
    assert m.norm_byte == whole.norm_byte
    for term in ("error", "cache", "deploy"):
        assert m.query_term(term) == whole.query_term(term)
