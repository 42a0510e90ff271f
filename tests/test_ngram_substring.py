"""NGramTokenFilter semantics (Analysis/NGram/NGramTokenFilter.cs,
4.4+ spec: all grams at the source position, offset-first order,
short tokens vanish) and the infix-substring candidate+verify path
(search/substring.py)."""

from __future__ import annotations

import pytest

from lucenenet_spark.analysis.ngrams import edge_field_length, ngrams
from lucenenet_spark.index.builder import CorpusSpec, build_index
from lucenenet_spark.search.queries import TermQuery
from lucenenet_spark.search.searcher import IndexSearcher
from lucenenet_spark.search.substring import substring_docs, substring_grams


def test_unit_gram_stream():
    # the reference doc's own example: "abc", 1..2 -> a, ab, b, bc, c
    assert ngrams([("abc", 0)], 1, 2) == [
        ("a", 0), ("ab", 0), ("b", 0), ("bc", 0), ("c", 0),
    ]
    # short tokens vanish; positions are the source token's
    assert ngrams([("ab", 0), ("x", 1)], 2, 3) == [("ab", 0)]
    assert edge_field_length([("ab", 0), ("x", 1)], 2) == 1
    # duplicate grams within a token are distinct occurrences (freq)
    assert ngrams([("aaa", 0)], 2, 2) == [("aa", 0), ("aa", 0)]


def test_substring_grams():
    assert substring_grams("dow", 3, 4) == ["dow"]
    assert substring_grams("indow", 3, 4) == ["indo", "ndow"]
    # duplicates collapse: 'abab' 3-grams over hi=3 -> aba, bab
    assert substring_grams("ababab", 3, 3) == ["aba", "bab"]
    with pytest.raises(ValueError):
        substring_grams("ab", 3, 4)


def test_exclusive_with_stream_filters(spark, no_spark_job):
    df = spark.createDataFrame(
        [("r", "a", "c", "x")], "repo string, path string, commit string, content string"
    )
    # rejected on the driver, before any Spark job
    with no_spark_job(), pytest.raises(ValueError):
        build_index(
            spark, df,
            CorpusSpec(order_cols=("repo", "path", "commit"),
                       ngram=(2, 4), edge_ngram=(2, 4)),
        )


@pytest.fixture(scope="module")
def ngram_index(spark):
    rows = [
        ("r", "a", "c", "spark window cluster"),
        ("r", "b", "c", "sparse windowing"),
        ("r", "c", "c", "sort order customer"),
        ("r", "d", "c", "accustomed to work"),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string"
    )
    idx = build_index(
        spark, df,
        CorpusSpec(order_cols=("repo", "path", "commit"), ngram=(3, 4)),
    ).cache()
    return df, IndexSearcher(idx)


def test_infix_as_exact_term(ngram_index):
    _, s = ngram_index
    # 'ndow' is an infix of window/windowing — never a prefix
    assert {h.docid for h in s.search(TermQuery(term="ndow"), 10)} == {0, 1}
    # full tokens longer than max_gram are NOT terms
    assert s.search(TermQuery(term="spark"), 10) == []
    # norms count source tokens with >= 1 gram
    assert {r.docid: r.field_length for r in s.index.docs.collect()} == {
        0: 3, 1: 2, 2: 3, 3: 2,  # 'to' is a stopword — gone before grams
    }


def test_substring_candidate_verify(ngram_index, spark):
    df, s = ngram_index
    src = df.selectExpr(
        "cast(monotonically_increasing_id() as long) as ignore", "*"
    )
    # rebuild a (doc_id, text) view matching the index's docid order
    ids = s.index.docs.select("docid").orderBy("docid")
    texts = [r.content for r in df.orderBy("repo", "path", "commit").collect()]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    # 'ustom' (5 > hi=4) spans customer AND accustomed
    got = {r.docid for r in substring_docs(s, docs, "ustom", 3, 4).collect()}
    assert got == {2, 3}
    # gram-conjunction candidates verified exactly: 'windowc' has all
    # 4-grams scattered across doc 0's tokens but no contiguous match
    got = {r.docid for r in substring_docs(s, docs, "dowc", 3, 4).collect()}
    assert got == set()


def test_packed_scan_prunes_below_unpack(ngram_index):
    """The candidate plan must carry the gram IN filter on the packed
    parquet scan (below the mapInPandas barrier), like every other
    positions consumer."""
    _, s = ngram_index
    from lucenenet_spark.search.queries import BooleanQuery, Occur

    q = BooleanQuery.of(
        (TermQuery(term="usto"), Occur.MUST), (TermQuery(term="stom"), Occur.MUST)
    )
    plan = s.matching_docids(q)._jdf.queryExecution().executedPlan().toString()
    assert "usto" in plan  # the term filter reached the physical scan
