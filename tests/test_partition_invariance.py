"""Partition-count invariance (north rule: identical results at N and
4N cluster sizes — TestSameScoresWithThreads, SURVEY.md §5.3): docids,
norms, shas, term stats, and float32 scores must not depend on how the
build was parallelized."""

from __future__ import annotations

import pytest

from lucenenet_spark.index import CorpusSpec, build_index
from lucenenet_spark.search.queries import BooleanQuery, Occur, TermQuery
from lucenenet_spark.search.searcher import IndexSearcher

SPEC = CorpusSpec(
    text_col="content", order_cols=("repo", "path", "commit"), meta_cols=("repo",)
)


@pytest.fixture(scope="module")
def two_builds(spark, corpus_rows):
    corpus = spark.createDataFrame(corpus_rows)
    a = build_index(spark, corpus, SPEC, partitions=2)
    b = build_index(spark, corpus, SPEC, partitions=7)
    yield a, b
    a.unpersist()
    b.unpersist()


def test_docids_and_docs_identical(two_builds):
    a, b = two_builds
    da = {r["docid"]: (r["repo"], r["field_length"], r["norm"], r["content_sha256"])
          for r in a.docs.collect()}
    db = {r["docid"]: (r["repo"], r["field_length"], r["norm"], r["content_sha256"])
          for r in b.docs.collect()}
    assert da == db


def test_term_stats_identical(two_builds):
    a, b = two_builds
    sa = {r["term"]: (r["df"], r["ttf"]) for r in a.term_stats.collect()}
    sb = {r["term"]: (r["df"], r["ttf"]) for r in b.term_stats.collect()}
    assert sa == sb
    assert (a.max_doc, a.sum_total_term_freq) == (b.max_doc, b.sum_total_term_freq)


def test_scores_identical(two_builds):
    a, b = two_builds
    q = BooleanQuery.of(
        (TermQuery(term="return"), Occur.MUST), (TermQuery(term="value"), Occur.SHOULD)
    )
    ha = [(h.docid, h.score) for h in IndexSearcher(a).search(q, 20)]
    hb = [(h.docid, h.score) for h in IndexSearcher(b).search(q, 20)]
    assert ha == hb


def test_posting_sets_identical(two_builds):
    a, b = two_builds
    pa = {(r["docid"], r["term"], r["freq"]) for r in a.postings().collect()}
    pb = {(r["docid"], r["term"], r["freq"]) for r in b.postings().collect()}
    assert pa == pb
