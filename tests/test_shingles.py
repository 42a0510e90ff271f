"""ShingleFilter semantics (reference Analysis/Shingle/ShingleFilter.cs):
word n-grams with `_` fillers for stop gaps, overlap-token norms, and
the phrase-as-term equivalence that makes shingles the phrase fast
path at scale."""

from __future__ import annotations

import pytest

from lucenenet_spark.analysis.shingles import add_shingles
from lucenenet_spark.analysis.analyzer import analyze
from lucenenet_spark.index.builder import CorpusSpec, build_index
from lucenenet_spark.search.queries import PhraseQuery, TermQuery
from lucenenet_spark.search.searcher import IndexSearcher

ROWS = [
    ("r", "a", "c", "hash table lookups beat the hash join"),
    ("r", "b", "c", "the table hash and the hash table"),
    ("r", "c", "c", "hash of the table"),  # 'of the' = 2-gap
    ("r", "d", "c", "unrelated words entirely"),
]


@pytest.fixture(scope="module")
def sh_pair(spark):
    df = spark.createDataFrame(
        ROWS, "repo string, path string, commit string, content string"
    )
    base = build_index(
        spark, df, CorpusSpec(order_cols=("repo", "path", "commit"))
    ).cache()
    sh = build_index(
        spark,
        df,
        CorpusSpec(order_cols=("repo", "path", "commit"), shingle_size=2),
    ).cache()
    return IndexSearcher(base), IndexSearcher(sh)


def test_unit_shingle_stream():
    pairs = analyze("hash of the table")  # hash(0) of(1) the(2) table(3)
    assert pairs == [("hash", 0), ("table", 3)]
    assert add_shingles(pairs, 2) == [
        ("hash", 0),
        ("hash _", 0),
        ("table", 3),
    ]


def test_trigram_with_filler():
    pairs = analyze("merge the sorted runs")
    assert add_shingles(pairs, 3) == [
        ("merge", 0),
        ("merge _", 0),
        ("merge _ sorted", 0),
        ("sorted", 2),
        ("sorted runs", 2),
        ("runs", 3),
    ]


def test_bigram_term_equals_exact_phrase_hits(sh_pair):
    base, sh = sh_pair
    phrase = {h.docid for h in base.search(PhraseQuery(phrase_terms=("hash", "table")), 10)}
    bigram = {h.docid for h in sh.search(TermQuery(term="hash table"), 10)}
    assert bigram == phrase == {0, 1}
    # and the shingle tf equals the exact-phrase occurrence count
    post = {r.docid: r.freq for r in sh.index.postings(
        ["hash table"]).collect()}
    assert post == {0: 1, 1: 1}


def test_norms_unchanged_by_shingles(sh_pair):
    base, sh = sh_pair
    b = {r.docid: (r.field_length, r.norm) for r in base.index.docs.collect()}
    s = {r.docid: (r.field_length, r.norm) for r in sh.index.docs.collect()}
    assert b == s


def test_no_shingle_past_last_token(sh_pair):
    _, sh = sh_pair
    # doc d ends at 'entirely'; no 'entirely *' shingle may exist
    terms = [r.term for r in sh.index.postings().where("docid = 3").collect()]
    assert "unrelated words" in terms and not any(
        t.startswith("entirely ") for t in terms
    )
