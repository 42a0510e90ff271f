"""Sloppy phrase — faithful SloppyPhraseScorer port. Matcher-level
fixtures mirror the reference tests
(src/Lucene.Net.Tests/Search/TestSloppyPhraseQuery.cs: DOC_4/QUERY_4,
the repeated-term 'drug' cases incl. LUCENE-3215, S_1 exact repeats),
plus Spark vs single-node-oracle identity."""

from __future__ import annotations

import numpy as np
import pytest

from lucenenet_spark.functions.sloppy import sloppy_phrase_freq
from lucenenet_spark.oracle import OracleSearcher
from lucenenet_spark.search.parser import parse_query
from lucenenet_spark.search.queries import PhraseQuery
from lucenenet_spark.search.searcher import IndexSearcher


def _pos(tokens, term):
    return np.array([i for i, t in enumerate(tokens) if t == term], dtype=np.int64)


def f(raw_lists, slop, offsets=None, keys=None):
    return float(
        sloppy_phrase_freq(
            [np.array(x, dtype=np.int64) for x in raw_lists],
            slop,
            offsets=offsets,
            term_keys=keys,
        )
    )


def test_matcher_exact_adjacency():
    # "a b" against doc 'a b': raw a@[0], b@[1] -> adjusted both 0
    assert f([[0], [1]], 0) == 1.0
    assert f([[0], [1]], 2) == 1.0


def test_matcher_slop_distance_weighting():
    assert f([[0], [2]], 1) == 0.5  # one gap -> L=1 -> 1/2
    assert f([[0], [3]], 2) == pytest.approx(1 / 3)  # L=2 -> 1/3
    assert f([[0], [4]], 2) == 0.0  # out of slop


def test_matcher_multiple_nonoverlapping_matches():
    assert f([[0, 10], [1, 11]], 0) == 2.0
    assert f([[0, 10], [1, 12]], 1) == 1.5  # exact + L=1


def test_matcher_three_terms():
    assert f([[0], [1], [2]], 0) == 1.0
    assert f([[0], [2], [4]], 2) == pytest.approx(1 / 3)
    assert f([[0], [2], [4]], 1) == 0.0


# ---- reference fixtures (TestSloppyPhraseQuery) ----

DOC_4 = "A A X A X B A X B B A A X B A A".split()


def test_doc4_query4_all_slops():
    """QUERY_4 'X A A' vs DOC_4: no match at slop 0, match at slop>=1."""
    lists = [_pos(DOC_4, "X"), _pos(DOC_4, "A"), _pos(DOC_4, "A")]
    keys = ["X", "A", "A"]
    assert f(lists, 0, keys=keys) == 0.0
    for slop in range(1, 30):
        assert f(lists, slop, keys=keys) > 0.0, f"slop={slop}"


def test_repeated_term_exact_match():
    """S_1 'A A A' vs 'X A A A Y': exact at every slop (LUCENE-1310:
    slop=1 must also succeed)."""
    doc = "X A A A Y".split()
    lists = [_pos(doc, "A")] * 3
    keys = ["A"] * 3
    for slop in range(0, 30):
        assert f(lists, slop, offsets=[0, 1, 2], keys=keys) >= 1.0, f"slop={slop}"


def test_repeated_term_does_not_match_single_occurrence():
    """'A A' must not match a doc with one 'A' (repeat-group init
    advances the second pp past the only position)."""
    assert f([[3], [3]], 5, offsets=[0, 1], keys=["A", "A"]) == 0.0


def test_drug_gap_phrase_hit_counts():
    """'drug _ _ drug' (offsets 1 and 4): reference expects 0 hits at
    slop 0, 3 at slop 1, 4 at slop 2 over the four lyric docs. slop 0
    runs the EXACT scorer (phrase start must be >= 0 —
    ExactPhraseScorer's posIndex guard rejects the p=-1 alignment in
    'drug druggy druggy drug'); slop > 0 runs the sloppy algorithm,
    which does count negative-start windows."""
    docs = [
        "drug drug".split(),
        "drug druggy drug".split(),
        "drug druggy druggy drug".split(),
        "drug druggy drug druggy drug".split(),
    ]

    def exact_hits(d):
        pos = _pos(d, "drug")
        starts = np.intersect1d(pos - 1, pos - 4)
        return int(np.count_nonzero(starts >= 0)) > 0

    assert sum(1 for d in docs if exact_hits(d)) == 0  # slop 0
    for slop, expect in ((1, 3), (2, 4)):
        hits = sum(
            1
            for d in docs
            if f([_pos(d, "drug")] * 2, slop, offsets=[1, 4], keys=["drug"] * 2) > 0
        )
        assert hits == expect, f"slop={slop}"


def test_infinite_freq_regressions_are_finite():
    """LUCENE-3215: repeated-term sloppy matching must terminate with a
    finite, bounded frequency."""
    doc = "drug druggy drug drug drug".split()
    val = f([_pos(doc, "drug")] * 2, 1, offsets=[1, 3], keys=["drug"] * 2)
    assert np.isfinite(val) and 0.0 <= val < 10.0


def test_phrase_bucket_path_matches_oracle(spark_index, oracle_index):
    """The per-bucket block-grouped phrase scorer (docid conjunction +
    skip-list position decode + vectorized/PQ freq inside one
    applyInPandas) must be bit-identical to the pure-Python oracle's
    per-doc walk — two independent implementations of the same
    reference semantics."""
    from lucenenet_spark.search.queries import MultiPhraseQuery

    plain = IndexSearcher(spark_index)
    oracle = OracleSearcher(oracle_index)
    queries = [
        PhraseQuery(phrase_terms=("return", "value")),
        PhraseQuery(phrase_terms=("return", "value"), slop=2),
        MultiPhraseQuery(slots=(("return",), ("value", "self"))),
    ]
    for q in queries:
        a = [(h.docid, h.score) for h in plain.search(q, 10)]
        b = [(d, float(s)) for d, s in oracle.search(q, 10)]
        assert a == b and a, q


def test_sloppy_rank_and_score_identical_to_oracle(spark_index, oracle_index):
    spark_s = IndexSearcher(spark_index)
    oracle_s = OracleSearcher(oracle_index)
    for slop in (1, 2, 4):
        q = PhraseQuery(phrase_terms=("return", "value"), slop=slop)
        got = [(h.docid, h.score) for h in spark_s.search(q, 10)]
        expect = [(d, float(s)) for d, s in oracle_s.search(q, 10)]
        assert got == expect, f"slop={slop}"
        assert got, f"slop={slop} found no hits"


def test_sloppy_offset_above_256_end_to_end(spark_index, oracle_index):
    """A slot offset above 256 (rels (0, 300), slop 400) through the
    2-slot vectorized path must keep every match the oracle walk finds."""
    q = PhraseQuery(phrase_terms=("return", "value"), term_positions=(0, 300), slop=400)
    got = [(h.docid, h.score) for h in IndexSearcher(spark_index).search(q, 10)]
    expect = [(d, float(s)) for d, s in OracleSearcher(oracle_index).search(q, 10)]
    assert got == expect and got


def test_sloppy_repeated_term_end_to_end(spark, oracle_index):
    """Adversarial repeated-term corpus through the full engine vs the
    single-node oracle (both run the same ported algorithm; this pins
    the Spark plumbing — posmap routing, term_keys — too)."""
    from lucenenet_spark.index.builder import CorpusSpec, build_index
    from lucenenet_spark.oracle import build_oracle_index

    texts = [
        "drug drug",
        "drug druggy drug",
        "drug druggy druggy drug",
        "drug druggy drug druggy drug",
        "drug druggy drug drug drug",
        "xx drug yy drug zz drug",
    ]
    rows = [("r", f"p{i}", "c", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "repo string, path string, commit string, content string")
    idx = build_index(spark, df, CorpusSpec(order_cols=("repo", "path", "commit")))
    s = IndexSearcher(idx)
    o = OracleSearcher(build_oracle_index(texts))
    for slop in (0, 1, 2, 3):
        q = PhraseQuery(phrase_terms=("drug", "drug"), term_positions=(1, 4), slop=slop)
        got = [(h.docid, h.score) for h in s.search(q, 10)]
        expect = [(d, float(sc)) for d, sc in o.search(q, 10)]
        assert got == expect, f"slop={slop}"
