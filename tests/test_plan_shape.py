"""Plan-shape pins: the number of Exchange and Python-eval nodes in the
physical plan of each headline query path, on a saved-then-loaded
index, in both plan regimes. The fixture's queries are small, so by
default they take the single-partition plan: no exchange at all. The
parallel plan is forced by lowering ``SINGLE_PARTITION_MAX_BLOCKS``
below every estimate. A change that adds a shuffle or a Python stage to
one of these paths fails here instead of surfacing as a slower soak run
(``scripts/plan_audit.py`` prints the regime each query took at two
warehouse scales). The plans are compiled, never executed, except the
MUST_NOT pin's, which checks its answer against the oracle. The driver's
compile cost is pinned too, as py4j round trips per query."""

from __future__ import annotations

import dataclasses
import re

import numpy as np
import pytest

from lucenenet_spark.index import postings
from lucenenet_spark.index.builder import CorpusSpec, InvertedIndex, build_index
from lucenenet_spark.index.postings import BUCKET_DOCS, estimated_blocks, single_partition
from lucenenet_spark.oracle import OracleSearcher
from lucenenet_spark.search import parse_query
from lucenenet_spark.search import spans as sp
from lucenenet_spark.search.flt import fuzzy_like_this_topk
from lucenenet_spark.search.payloads import (
    payload_near_query,
    payload_term_query,
    span_near_payload_check,
    span_payload_check,
)
from lucenenet_spark.search.queries import (
    BooleanQuery,
    DisjunctionMaxQuery,
    MultiPhraseQuery,
    Occur,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
)
from lucenenet_spark.search.searcher import IndexSearcher
from lucenenet_spark.session import py4j_round_trips

EXCHANGE = re.compile(r"\bExchange\b")
PYTHON = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)\b"
)
BUCKET_EXCHANGE = re.compile(r"hashpartitioning\(bucket#\d+L?, (\d+)\)")
# the parquet scan's pushed predicate on the term column
TERM_PUSHDOWN = re.compile(r"PushedFilters: \[[^\]]*\b(?:EqualTo|In)\(term,")
POSITIONAL = ("phrase", "sloppy_phrase", "multi_phrase", "span_near", "span_query_scored")

# (exchanges, python nodes) per query path, parallel plan
EXPECTED = {
    "term": (0, 1),
    "bool_and": (1, 1),
    "dismax": (1, 1),
    "prefix": (1, 1),
    "flt_topk": (1, 1),
    "phrase": (1, 1),
    "sloppy_phrase": (1, 1),
    "multi_phrase": (1, 1),
    "span_near": (1, 1),
    "span_query_scored": (1, 1),
    "payload_term": (1, 1),
    "span_payload_check": (1, 1),
    "payload_near": (1, 1),
    "span_near_payload_check": (1, 1),
}
# single-partition plan: every exchange gone, the one Python node kept
EXPECTED_SMALL = {name: (0, 1) for name in EXPECTED}
# py4j round trips to compile each query once its term stats are on the
# driver, about 20% over the measured 83 / 133 / 137; 143 / 594 / 456
# with call-site capture on and a Column-by-Column combine. A pruned
# term measured 120, against 1 210 with its norm cache as Columns
MAX_ROUND_TRIPS = {"term": 100, "bool_and": 160, "dismax": 165, "term_pruned": 145}


@pytest.fixture()
def large_regime(monkeypatch):
    """Force the parallel plan: no estimate is below -1 blocks."""
    monkeypatch.setattr(postings, "SINGLE_PARTITION_MAX_BLOCKS", -1)


@pytest.fixture(scope="module")
def loaded(spark, spark_index, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan_shape") / "idx")
    spark_index.save(path)
    return IndexSearcher(InvertedIndex.load(spark, path))


@pytest.fixture(scope="module")
def loaded_payloads(spark, tmp_path_factory):
    df = spark.createDataFrame(
        [("r", "a", "c", "return|2.5 value|0.5 self"), ("r", "b", "c", "value return")],
        "repo string, path string, commit string, content string",
    )
    path = str(tmp_path_factory.mktemp("plan_shape_payloads") / "idx")
    build_index(
        spark, df, CorpusSpec(order_cols=("repo", "path", "commit"), payload_delim="|")
    ).save(path)
    return IndexSearcher(InvertedIndex.load(spark, path))


def _payload_frames(s: IndexSearcher) -> dict:
    return {
        "payload_term": payload_term_query(s, "return", 10),
        "span_payload_check": span_payload_check(s, "return", 2.5),
        "payload_near": payload_near_query(s, "return", "value", 2, 10),
        "span_near_payload_check": span_near_payload_check(
            s, "return", "value", 2, (2.5, 0.5)
        ),
    }


def _frames(s: IndexSearcher) -> dict:
    near = sp.SpanNearQuery(
        (sp.SpanTermQuery("return"), sp.SpanTermQuery("value")), slop=2, in_order=True
    )
    return {
        "term": s.search_df(TermQuery(term="return"), 10),
        "bool_and": s.search_df(
            BooleanQuery.of(
                (TermQuery(term="return"), Occur.MUST),
                (TermQuery(term="value"), Occur.MUST),
            ),
            10,
        ),
        "dismax": s.search_df(
            DisjunctionMaxQuery(
                disjuncts=(TermQuery(term="return"), TermQuery(term="value")),
                tie_breaker=0.1,
            ),
            10,
        ),
        "prefix": s.search_df(PrefixQuery(prefix="re"), 10),
        "flt_topk": fuzzy_like_this_topk(s, "retrn valu", 0.4, 0, 10, 10),
        "phrase": s.search_df(PhraseQuery(phrase_terms=("return", "value")), 10),
        "sloppy_phrase": s.search_df(
            PhraseQuery(phrase_terms=("return", "value"), slop=2), 10
        ),
        "multi_phrase": s.search_df(
            MultiPhraseQuery(slots=(("return",), ("value", "self"))), 10
        ),
        "span_near": sp.span_query(s, near),
        "span_query_scored": sp.span_query_scored(s, near, 10),
    }


def _plans(loaded, loaded_payloads) -> dict:
    frames = {**_frames(loaded), **_payload_frames(loaded_payloads)}
    return {
        name: df._jdf.queryExecution().executedPlan().toString()
        for name, df in frames.items()
    }


def _shapes(plans: dict) -> dict:
    return {
        name: (len(EXCHANGE.findall(plan)), len(PYTHON.findall(plan)))
        for name, plan in plans.items()
    }


def test_plan_shapes_pinned(loaded, loaded_payloads, large_regime):
    assert _shapes(_plans(loaded, loaded_payloads)) == EXPECTED


def test_small_query_plans_have_no_exchange(loaded, loaded_payloads):
    """The default regime on the fixture: one partition, zero exchanges,
    and the term predicate still pushed into the parquet scan."""
    plans = _plans(loaded, loaded_payloads)
    assert _shapes(plans) == EXPECTED_SMALL
    for name, plan in plans.items():
        assert TERM_PUSHDOWN.search(plan), (name, plan)
        assert "Coalesce 1" in plan, (name, plan)


def test_regime_from_estimated_blocks(monkeypatch):
    """Σ⌈df/128⌉ over the query's terms; at the constant the query is
    still small, one block above it is not."""
    stats = {"a": (1, 1), "b": (128, 300), "c": (129, 129)}
    assert estimated_blocks(stats) == 1 + 1 + 2
    assert estimated_blocks({}) == 0
    monkeypatch.setattr(postings, "SINGLE_PARTITION_MAX_BLOCKS", 4)
    assert single_partition(stats)
    monkeypatch.setattr(postings, "SINGLE_PARTITION_MAX_BLOCKS", 3)
    assert not single_partition(stats)


def _bucket_exchange_sizes(s: IndexSearcher) -> dict:
    frames = _frames(s)
    return {
        name: [
            int(n)
            for n in BUCKET_EXCHANGE.findall(
                frames[name]._jdf.queryExecution().executedPlan().toString()
            )
        ]
        for name in POSITIONAL
    }


def test_positional_exchange_sized_from_bucket_count(loaded, large_regime):
    """``repartition(n, "bucket")`` is never coalesced by AQE, so n must
    follow the bucket count: a 1-bucket index gets a handful of reduce
    tasks, an index of >= 50 buckets the full 199."""
    assert loaded.index.max_doc <= BUCKET_DOCS
    for name, sizes in _bucket_exchange_sizes(loaded).items():
        assert len(sizes) == 1 and sizes[0] <= 8, (name, sizes)
    for buckets, want in ((2, 8), (49, 196), (50, 199), (10**6, 199)):
        big = IndexSearcher(
            dataclasses.replace(loaded.index, max_doc=buckets * BUCKET_DOCS)
        )
        got = _bucket_exchange_sizes(big)
        assert got == {name: [want] for name in POSITIONAL}, (buckets, got)


def test_not_clause_joins_its_docids_without_distinct(loaded, oracle_index, large_regime):
    """A non-term MUST_NOT anti-joins its docids as they come: the
    parallel plan has the clause combine's shuffle and the phrase's
    bucket exchange, and no third one for a ``distinct`` in front of
    the join. The answer keeps the oracle's docids and float32 bits."""
    q = parse_query('return AND NOT "return value"')
    df = loaded.search_df(q, 10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(EXCHANGE.findall(plan)) == 2, plan
    got = [(r.docid, np.float32(r.score).tobytes()) for r in df.collect()]
    want = [(d, np.float32(s).tobytes()) for d, s in OracleSearcher(oracle_index).search(q, 10)]
    assert got and got == want


def test_compile_round_trips_bounded(loaded):
    """The driver's compile of a query, counted in py4j round trips
    (each a JVM call), stays within a bound of the measured count."""
    queries = {
        "term": TermQuery(term="return"),
        "bool_and": BooleanQuery.of(
            (TermQuery(term="return"), Occur.MUST),
            (TermQuery(term="value"), Occur.MUST),
        ),
        "dismax": DisjunctionMaxQuery(
            disjuncts=(TermQuery(term="return"), TermQuery(term="value")),
            tie_breaker=0.1,
        ),
    }
    # the same term with block-max pruning forced on: the norm cache
    # and the bounds are SQL text, not one Column per cache entry
    pruned = IndexSearcher(loaded.index, prune_min_df=0)
    searchers = {name: loaded for name in queries}
    queries["term_pruned"], searchers["term_pruned"] = queries["term"], pruned
    for s in (loaded, pruned):
        s.search_df(queries["term"], 10)  # loads the term stats
    got = {}
    for name, q in queries.items():
        with py4j_round_trips() as n:
            searchers[name].search_df(q, 10)
        got[name] = n[0]
    assert all(got[name] <= MAX_ROUND_TRIPS[name] for name in got), got
