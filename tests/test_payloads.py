"""Payload pipeline: DelimitedPayloadTokenFilter analyzer -> packed
payloads_enc -> unpack -> PayloadTermQuery scoring (reference
Search/Payloads/*, Analysis/Payloads/DelimitedPayloadTokenFilter.cs)."""

from __future__ import annotations

import numpy as np
import pytest

from lucenenet_spark.analysis.analyzer import analyze_delimited
from lucenenet_spark.index.builder import (
    CorpusSpec,
    build_index,
)
from lucenenet_spark.search.payloads import _payload_factor, payload_term_query
from lucenenet_spark.search.queries import TermQuery
from lucenenet_spark.search.searcher import IndexSearcher

ROWS = [
    ("r", "a", "c", "spark|2.5 the|9 merge spark|0.5"),
    ("r", "b", "c", "spark|1.5 table|3.5"),
    ("r", "c", "c", "merge table"),
]


def test_analyze_delimited():
    got = analyze_delimited("Spark|2.5 the|9 merge table|0.25 plain")
    assert got == [
        ("spark", 0, 2.5), ("merge", 2, 1.0), ("table", 3, 0.25), ("plain", 4, 1.0)
    ]
    # unparsable payload -> whole chunk is the term, payload 1.0
    assert analyze_delimited("a|b|x")[0][2] == 1.0


@pytest.fixture(scope="module")
def ps(spark):
    df = spark.createDataFrame(
        ROWS, "repo string, path string, commit string, content string"
    )
    idx = build_index(
        spark, df, CorpusSpec(order_cols=("repo", "path", "commit"), payload_delim="|")
    ).cache()
    return IndexSearcher(idx)


def test_payload_roundtrip(ps):
    rows = ps.index.postings(["spark"], payloads=True).collect()
    by_doc = {r.docid: (list(r.positions), list(r.payloads)) for r in rows}
    assert by_doc[0] == ([0, 3], [2.5, 0.5])
    assert by_doc[1] == ([0], [1.5])
    # un-annotated tokens carry the default payload 1.0
    merge = ps.index.postings(["merge"], payloads=True).collect()
    assert all(all(p == 1.0 for p in r.payloads) for r in merge)


def test_payload_factors():
    a = np.array([2.5, 0.5, 1.0], dtype=np.float32)
    assert _payload_factor(a, "avg") == np.float32(np.float32(4.0) / np.float32(3.0))
    assert _payload_factor(a, "min") == np.float32(0.5)
    assert _payload_factor(a, "max") == np.float32(2.5)


def test_payload_term_query_scales_term_score(ps):
    base = {h.docid: h.score for h in ps.search(TermQuery(term="spark"), 10)}
    got = {r.docid: r.score for r in payload_term_query(ps, "spark", 10).collect()}
    # doc 0 payloads (2.5, 0.5): avg 1.5 -> 1.5x the bare term score
    assert got[0] == pytest.approx(base[0] * 1.5, rel=1e-6)
    assert got[1] == pytest.approx(base[1] * 1.5, rel=1e-6)
    only = payload_term_query(ps, "spark", 10, include_span_score=False).collect()
    vals = {r.docid: r.score for r in only}
    assert vals[0] == np.float32(1.5) and vals[1] == np.float32(1.5)


def test_non_payload_index_defaults_to_one(spark):
    df = spark.createDataFrame(
        [("r", "a", "c", "spark merge")],
        "repo string, path string, commit string, content string",
    )
    s = IndexSearcher(
        build_index(spark, df, CorpusSpec(order_cols=("repo", "path", "commit"))).cache()
    )
    base = {h.docid: h.score for h in s.search(TermQuery(term="spark"), 10)}
    got = {r.docid: r.score for r in payload_term_query(s, "spark", 10).collect()}
    assert got == base


def test_payload_near_query(ps):
    """Ordered near over the payload corpus: doc 0 'spark ... merge
    spark' has spark@0 -> merge@2 (gap 1) and spark@3 with no merge
    after; factor = avg(pay(spark@0), pay(merge@2))."""
    from lucenenet_spark.search.payloads import payload_near_query

    rows = payload_near_query(ps, "spark", "merge", slop=1, k=10).collect()
    got = {r.docid: r.score for r in rows}
    assert list(got) == [0]
    # recompute: freq = f32(1/(1+3)) (span [0, 3)), factor = avg(2.5, 1.0)
    from lucenenet_spark.functions import bm25

    w = ps.sim.weight_multi(
        [ps._stats_map()["merge"][0], ps._stats_map()["spark"][0]],
        ps.index.max_doc,
        1.0,
    )
    freq = np.float32(1.0) / np.float32(4.0)
    base = ps.sim.score(
        np.array([freq], dtype=np.float32),
        np.array([ps.index.docs.where("docid = 0").first().norm], dtype=np.uint8),
        w,
    )[0]
    want = np.float32(base * np.float32(np.float32(3.5) / np.float32(2.0)))
    assert np.float32(got[0]) == want


def test_span_payload_check(spark):
    """Payload-gated spans: only positions/pairs with the required
    payloads count (SpanPayloadCheckQuery / SpanNearPayloadCheckQuery)."""
    from lucenenet_spark.search.payloads import (
        span_near_payload_check,
        span_payload_check,
    )

    rows = [
        ("r", "a", "c", "spark|2.5 merge|1.0 spark|0.5"),
        ("r", "b", "c", "spark|2.5 spark|2.5 merge|3.5"),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string"
    )
    s = IndexSearcher(
        build_index(
            spark, df, CorpusSpec(order_cols=("repo", "path", "commit"), payload_delim="|")
        ).cache()
    )
    got = {r.docid: r.n_spans for r in span_payload_check(s, "spark", 2.5).collect()}
    assert got == {0: 1, 1: 2}
    # near check: spark->merge adjacent with payloads (2.5, 1.0): doc 0
    # matches at (0,1); doc 1's greedy chain is spark@1->merge@2 with
    # payloads (2.5, 3.5) — fails the pair check
    near = {
        r.docid: r.n_spans
        for r in span_near_payload_check(s, "spark", "merge", 0, (2.5, 1.0)).collect()
    }
    assert near == {0: 1}


def test_payload_plans_filter_packed_before_unpack(ps):
    """The payload scorers must prune the PACKED scan by term (the
    repo's documented anti-pattern: a filter above the unpack barrier
    decodes the whole index). Every payload scorer runs on the span
    plan, whose grouped FlatMapGroupsInPandas stage decodes the
    blocks."""
    from lucenenet_spark.search.payloads import (
        payload_near_query,
        payload_term_query,
        span_near_payload_check,
        span_payload_check,
    )

    for node, df in (
        ("FlatMapGroupsInPandas", payload_term_query(ps, "spark", 5)),
        ("FlatMapGroupsInPandas", span_payload_check(ps, "spark", 2.5)),
        ("FlatMapGroupsInPandas", payload_near_query(ps, "spark", "merge", 1, 5)),
        (
            "FlatMapGroupsInPandas",
            span_near_payload_check(ps, "spark", "merge", 1, (2.5, 1.0)),
        ),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # optimizedPlan prints root first, children after: the Filter
        # carrying the term predicate must sit BELOW (after) the
        # decoding Python node, i.e. on the packed scan side
        decode_at = plan.find(node)
        assert decode_at != -1, plan
        below = plan[decode_at:]
        assert "Filter" in below and "term#" in below.split("Filter", 1)[1], plan
