"""SynonymFilter semantics (reference Analysis/Synonym/SynonymFilter.cs):
index-time injection at the source token's position with
discountOverlaps norms, and query-time analyzer-graph expansion."""

from __future__ import annotations

import numpy as np
import pytest

from lucenenet_spark.analysis.synonyms import (
    expand_query,
    inject_synonyms,
    synonym_map,
)
from lucenenet_spark.index.builder import CorpusSpec, build_index
from lucenenet_spark.search.queries import (
    BooleanQuery,
    MultiPhraseQuery,
    Occur,
    PhraseQuery,
    TermQuery,
)
from lucenenet_spark.search.searcher import IndexSearcher

ROWS = [
    ("r", "a", "c", "merge the sorted runs then merge again"),
    ("r", "b", "c", "join the tables on the key"),
    ("r", "c", "c", "merge join strategies differ"),
    ("r", "d", "c", "no relevant words here"),
]
SYN = synonym_map({"merge": ["join"]})


@pytest.fixture(scope="module")
def syn_pair(spark):
    df = spark.createDataFrame(
        ROWS, "repo string, path string, commit string, content string"
    )
    base = build_index(
        spark, df, CorpusSpec(order_cols=("repo", "path", "commit"))
    ).cache()
    syn = build_index(
        spark,
        df,
        CorpusSpec(order_cols=("repo", "path", "commit"), synonyms=SYN),
    ).cache()
    return IndexSearcher(base), IndexSearcher(syn)


def test_injection_collapses_duplicates():
    pairs = [("merge", 0), ("join", 0), ("merge", 2)]
    assert inject_synonyms(pairs, SYN) == [
        ("join", 0),
        ("merge", 0),
        ("join", 2),
        ("merge", 2),
    ]


def test_injected_index_matches_source_docs(syn_pair):
    base, syn = syn_pair
    # 'join' on the base index: docs b (natural) and c only
    assert {h.docid for h in base.search(TermQuery(term="join"), 10)} == {1, 2}
    # on the synonym index every 'merge' doc matches too
    assert {h.docid for h in syn.search(TermQuery(term="join"), 10)} == {0, 1, 2}


def test_injected_tf_and_positions(syn_pair):
    _, syn = syn_pair
    post = (
        syn.index.postings(["join"]).orderBy("docid").collect()
    )
    by_doc = {r.docid: r for r in post}
    # doc a: two injected occurrences at merge's positions 0 and 5
    # (tokens: merge(0) the(1,stop) sorted(2) runs(3) then(4) merge(5))
    assert by_doc[0].freq == 2 and list(by_doc[0].positions) == [0, 5]
    # doc c: natural join@1 plus injected@0 (from merge@0)
    assert by_doc[2].freq == 2 and list(by_doc[2].positions) == [0, 1]


def test_norms_unchanged_by_injection(syn_pair):
    base, syn = syn_pair
    b = {r.docid: (r.field_length, r.norm) for r in base.index.docs.collect()}
    s = {r.docid: (r.field_length, r.norm) for r in syn.index.docs.collect()}
    assert b == s  # discountOverlaps: injected tokens never touch norms


def test_df_reflects_injection(syn_pair):
    base, syn = syn_pair
    bdf = {r.term: r.df for r in base.index.term_stats.collect()}
    sdf = {r.term: r.df for r in syn.index.term_stats.collect()}
    assert bdf["join"] == 2 and sdf["join"] == 3
    assert bdf["merge"] == sdf["merge"] == 2


def test_query_expansion_equals_explicit_boolean(syn_pair):
    base, _ = syn_pair
    expanded = expand_query(TermQuery(term="merge"), SYN)
    explicit = BooleanQuery.of(
        (TermQuery(term="merge"), Occur.SHOULD),
        (TermQuery(term="join"), Occur.SHOULD),
    )
    a = [(h.docid, np.float32(h.score)) for h in base.search(expanded, 10)]
    b = [(h.docid, np.float32(h.score)) for h in base.search(explicit, 10)]
    assert a == b and len(a) > 0


def test_phrase_expansion_is_multiphrase(syn_pair):
    base, _ = syn_pair
    q = expand_query(PhraseQuery(phrase_terms=("merge", "join")), SYN)
    assert isinstance(q, MultiPhraseQuery)
    assert q.slots == (("merge", "join"), ("join",))
    # matches doc c ("merge join ...") via the exact-phrase positions
    assert {h.docid for h in base.search(q, 10)} == {2}


def test_unmapped_query_identity():
    q = BooleanQuery.of(
        (TermQuery(term="table"), Occur.MUST),
        (TermQuery(term="scan"), Occur.SHOULD),
    )
    assert expand_query(q, SYN) == q
