"""EdgeNGramTokenFilter semantics (Analysis/NGram/
EdgeNGramTokenFilter.cs): prefix grams replace tokens, short tokens
vanish, norms count source tokens."""

from __future__ import annotations

import pytest

from lucenenet_spark.analysis.ngrams import edge_field_length, edge_ngrams
from lucenenet_spark.index.builder import CorpusSpec, build_index
from lucenenet_spark.search.queries import TermQuery
from lucenenet_spark.search.searcher import IndexSearcher


def test_unit_gram_stream():
    pairs = [("spark", 0), ("io", 2), ("x", 3)]
    assert edge_ngrams(pairs, 2, 4) == [
        ("sp", 0), ("spa", 0), ("spar", 0), ("io", 2),
    ]  # 'x' shorter than min_gram emits nothing
    assert edge_field_length(pairs, 2) == 2


def test_exclusive_with_stream_filters(spark, no_spark_job):
    df = spark.createDataFrame(
        [("r", "a", "c", "x")], "repo string, path string, commit string, content string"
    )
    # rejected on the driver, before any Spark job
    with no_spark_job(), pytest.raises(ValueError):
        build_index(
            spark, df,
            CorpusSpec(order_cols=("repo", "path", "commit"),
                       edge_ngram=(2, 4), shingle_size=2),
        )


def test_prefix_as_exact_term(spark):
    rows = [
        ("r", "a", "c", "spark cluster"),
        ("r", "b", "c", "sparse matrix"),
        ("r", "c", "c", "sort order"),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string"
    )
    s = IndexSearcher(build_index(
        spark, df,
        CorpusSpec(order_cols=("repo", "path", "commit"), edge_ngram=(2, 4)),
    ).cache())
    # 'spar' matches both spark and sparse docs; 'so' matches sort
    assert {h.docid for h in s.search(TermQuery(term="spar"), 10)} == {0, 1}
    assert {h.docid for h in s.search(TermQuery(term="so"), 10)} == {2}
    # full tokens longer than max_gram are NOT terms
    assert s.search(TermQuery(term="spark"), 10) == []
    # norms: each doc has 2 source tokens -> field_length 2
    assert {r.docid: r.field_length for r in s.index.docs.collect()} == {
        0: 2, 1: 2, 2: 2,
    }
