"""Explain API + batched multi-query execution."""

from __future__ import annotations

import pytest

from lucenenet_spark.search.queries import BooleanQuery, Occur, TermQuery
from lucenenet_spark.search.searcher import IndexSearcher


@pytest.fixture(scope="module")
def searcher(spark_index):
    return IndexSearcher(spark_index)


def test_explain_term_matches_search_score(searcher):
    q = TermQuery(term="return")
    hits = searcher.search(q, 5)
    for h in hits[:3]:
        e = searcher.explain(q, h.docid)
        assert e["match"] and e["value"] == h.score
        assert e["doc_freq"] > 0 and e["freq"] >= 1 and 0 <= e["norm_byte"] <= 255


def test_explain_boolean_matches_search_score(searcher):
    q = BooleanQuery.of(
        (TermQuery(term="return"), Occur.MUST),
        (TermQuery(term="value"), Occur.SHOULD),
        (TermQuery(term="data0"), Occur.MUST_NOT),
    )
    hits = searcher.search(q, 5)
    assert hits
    for h in hits[:3]:
        e = searcher.explain(q, h.docid)
        assert e["match"] and e["value"] == h.score
        occurs = {c["occur"] for c in e["clauses"]}
        assert occurs == {"MUST", "SHOULD", "MUST_NOT"}


def test_explain_non_match(searcher):
    q = TermQuery(term="return")
    # find a doc lacking the term
    matched = {r["docid"] for r in searcher.matching_docids(q).collect()}
    all_ids = set(range(searcher.index.max_doc))
    missing = sorted(all_ids - matched)
    if missing:
        e = searcher.explain(q, missing[0])
        assert not e["match"] and e["value"] == 0.0


def test_explain_every_query_type_matches_search_score(searcher):
    """TestExplanations analog: the explain root value is bit-identical
    to the search score for every supported query type."""
    from lucenenet_spark.search.queries import (
        DisjunctionMaxQuery,
        FuzzyQuery,
        MatchAllDocsQuery,
        MultiPhraseQuery,
        PhraseQuery,
        PrefixQuery,
    )

    qs = {
        "phrase": PhraseQuery(phrase_terms=("return", "value")),
        "sloppy": PhraseQuery(phrase_terms=("return", "value"), slop=3),
        "multi_phrase": MultiPhraseQuery(slots=(("return",), ("value", "x"))),
        "dismax": DisjunctionMaxQuery(
            disjuncts=(TermQuery(term="return"), TermQuery(term="value")),
            tie_breaker=0.3,
        ),
        "prefix_cs": PrefixQuery(prefix="ret"),
        "fuzzy": FuzzyQuery(term="retorn", max_edits=2),
        "match_all": MatchAllDocsQuery(boost=2.0),
        "bool_phrase": BooleanQuery.of(
            (PhraseQuery(phrase_terms=("return", "value")), Occur.MUST),
            (TermQuery(term="x"), Occur.SHOULD),
        ),
    }
    for name, q in qs.items():
        hits = searcher.search(q, 3)
        assert hits, name
        for h in hits:
            e = searcher.explain(q, h.docid)
            assert e["match"], (name, h)
            assert e["value"] == h.score, (name, h, e["value"])


def test_explain_classic_similarity(spark_index):
    from lucenenet_spark.functions.similarity import ClassicSimilarity
    from lucenenet_spark.search.queries import PhraseQuery

    s = IndexSearcher(spark_index, similarity=ClassicSimilarity())
    for q in (
        TermQuery(term="return"),
        PhraseQuery(phrase_terms=("return", "value")),
    ):
        hits = s.search(q, 3)
        assert hits
        for h in hits:
            e = s.explain(q, h.docid)
            assert e["match"] and e["value"] == h.score


def test_search_many_matches_individual(searcher):
    queries = {
        "a": TermQuery(term="return"),
        "b": BooleanQuery.of(
            (TermQuery(term="value"), Occur.MUST), (TermQuery(term="x"), Occur.SHOULD)
        ),
    }
    rows = searcher.search_many(queries, 5).collect()
    got: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    for name, q in queries.items():
        expect = [(h.docid, h.score) for h in searcher.search(q, 5)]
        assert got[name] == expect, name


def test_explain_lm_and_dfr_similarities(spark_index):
    from lucenenet_spark.functions.similarity import (
        DFRInL2Similarity,
        IBLLSimilarity,
        IBSPLSimilarity,
        LMDirichletSimilarity,
    )

    base = IndexSearcher(spark_index)
    for sim in (
        LMDirichletSimilarity(),
        DFRInL2Similarity(base._avgdl),
        IBLLSimilarity(base._avgdl),
        IBSPLSimilarity(base._avgdl),
    ):
        s = IndexSearcher(spark_index, similarity=sim)
        q = TermQuery(term="return")
        hits = s.search(q, 3)
        assert hits
        for h in hits:
            e = s.explain(q, h.docid)
            assert e["match"] and e["value"] == h.score, sim.name


def test_generic_dfr_configs_explain_and_inl2_parity(spark_index):
    """DFRSimilarity('in','l','h2') is bit-identical to the pinned
    DFRInL2Similarity, and explain's root value matches the search
    score for a nonlinear (G) and a B-after-effect composition."""
    from lucenenet_spark.functions.similarity import (
        DFRInL2Similarity,
        DFRSimilarity,
    )

    base = IndexSearcher(spark_index)
    q = TermQuery(term="return")
    pinned = IndexSearcher(
        spark_index, similarity=DFRInL2Similarity(base._avgdl)
    ).search(q, 5)
    generic = IndexSearcher(
        spark_index, similarity=DFRSimilarity(base._avgdl, "in", "l", "h2")
    ).search(q, 5)
    assert [(h.docid, h.score) for h in pinned] == [
        (h.docid, h.score) for h in generic
    ]
    for cfg in (("if", "b", "h2"), ("g", "l", "h1"), ("ine", "b", "h1")):
        s = IndexSearcher(spark_index, similarity=DFRSimilarity(base._avgdl, *cfg))
        hits = s.search(q, 3)
        assert hits, cfg
        for h in hits:
            e = s.explain(q, h.docid)
            assert e["match"] and e["value"] == h.score, cfg


def test_explain_deleted_doc_matches_nothing(spark, corpus_rows, tmp_path):
    """A tombstoned docid explains as no match, value 0.0, at the root
    of every query type: the reference builds each explain scorer with
    the reader's liveDocs."""
    from lucenenet_spark.index import CorpusSpec
    from lucenenet_spark.search.queries import (
        ConstantScoreQuery,
        DisjunctionMaxQuery,
        MatchAllDocsQuery,
        PhraseQuery,
        PrefixQuery,
    )
    from lucenenet_spark.streaming import append_batch, delete_docs, load_live

    path = str(tmp_path / "live")
    spec = CorpusSpec(text_col="content", order_cols=("repo", "path", "commit"))
    for bid, lo in enumerate((0, 100)):
        append_batch(
            spark.createDataFrame(corpus_rows[lo:lo + 100]), path, spec, batch_id=bid
        )
    phrase = PhraseQuery(phrase_terms=("return", "value"))
    qs = {
        "term": TermQuery(term="return"),
        "boolean": BooleanQuery.of(
            (TermQuery(term="return"), Occur.MUST),
            (TermQuery(term="value"), Occur.SHOULD),
        ),
        "phrase": phrase,
        "dismax": DisjunctionMaxQuery(
            disjuncts=(TermQuery(term="return"), TermQuery(term="value")),
            tie_breaker=0.3,
        ),
        "prefix_cs": PrefixQuery(prefix="ret"),
        "match_all": MatchAllDocsQuery(),
        "constant_match_all": ConstantScoreQuery(boost=2.0, query=MatchAllDocsQuery()),
    }
    idx, _ = load_live(spark, path)
    before = IndexSearcher(idx)
    victim, other = [h.docid for h in before.search(phrase, 2)]
    assert all(before.explain(q, victim)["match"] for q in qs.values())
    delete_docs(spark, path, [victim])
    idx, tombs = load_live(spark, path)
    live = IndexSearcher(idx, tombstones=tombs)
    for name, q in qs.items():
        e = live.explain(q, victim)
        assert not e["match"] and e["value"] == 0.0, (name, e)
        assert live.explain(q, other)["match"], name
