"""End-to-end rank identity: the distributed engine's top-k (docid,
float32 score bits) must equal the pure-Python oracle's on the
reference query set (FIXTURES.md §5; TestBM25Similarity /
TestBooleanQuery style)."""

import numpy as np
import pytest

from lucenenet_spark.search import (
    BooleanQuery,
    DisjunctionMaxQuery,
    FuzzyQuery,
    IndexSearcher,
    MatchAllDocsQuery,
    Occur,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
)
from lucenenet_spark.oracle import OracleSearcher

M, S, N = Occur.MUST, Occur.SHOULD, Occur.MUST_NOT


def _pick_terms(oracle_index):
    """rare / mid / head terms from the corpus term dictionary."""
    by_df = sorted(oracle_index.postings.items(), key=lambda kv: (len(kv[1]), kv[0]))
    rare = by_df[0][0]
    mid = by_df[len(by_df) // 2][0]
    head = by_df[-1][0]
    return rare, mid, head


def queryset(oracle_index):
    rare, mid, head = _pick_terms(oracle_index)
    q = []
    # 1. single terms: rare, mid, Zipf-head
    q += [TermQuery(term=rare), TermQuery(term=mid), TermQuery(term=head)]
    # 2. AND
    q += [
        BooleanQuery.of((TermQuery(term=mid), M), (TermQuery(term=head), M)),
        BooleanQuery.of(
            (TermQuery(term="return"), M),
            (TermQuery(term="value"), M),
            (TermQuery(term=mid), M),
        ),
        BooleanQuery.of((TermQuery(term=rare), M), (TermQuery(term="zzz_nonexistent"), M)),
    ]
    # 3. OR + minShouldMatch
    q += [
        BooleanQuery.of((TermQuery(term=mid), S), (TermQuery(term=head), S)),
        BooleanQuery.of(
            (TermQuery(term="return"), S),
            (TermQuery(term="value"), S),
            (TermQuery(term="class"), S),
            (TermQuery(term=mid), S),
            (TermQuery(term=rare), S),
        ),
        BooleanQuery.of(
            (TermQuery(term="return"), S),
            (TermQuery(term="value"), S),
            (TermQuery(term="class"), S),
            min_should_match=2,
        ),
    ]
    # 4. MUST+SHOULD, MUST+MUST_NOT, MUST_NOT vs MatchAll
    q += [
        BooleanQuery.of((TermQuery(term=head), M), (TermQuery(term=mid), S)),
        BooleanQuery.of((TermQuery(term=head), M), (TermQuery(term=mid), N)),
        BooleanQuery.of((MatchAllDocsQuery(), M), (TermQuery(term=head), N)),
    ]
    # 5. nested boolean (a AND b) OR (c AND NOT d); single-clause rewrite
    q += [
        BooleanQuery.of(
            (BooleanQuery.of((TermQuery(term="return"), M), (TermQuery(term=mid), M)), S),
            (
                BooleanQuery.of((TermQuery(term="value"), M), (TermQuery(term=head), N)),
                S,
            ),
        ),
        BooleanQuery.of((TermQuery(term=mid), S)),  # collapses to TermQuery
        BooleanQuery.of((TermQuery(boost=3.0, term=mid), S), boost=0.5),
    ]
    # 6. boosts
    q += [
        BooleanQuery.of(
            (TermQuery(boost=2.5, term=mid), S), (TermQuery(term=head), S)
        ),
    ]
    # 7. dismax
    q += [
        DisjunctionMaxQuery(
            disjuncts=(TermQuery(term=mid), TermQuery(term=head)), tie_breaker=0.3
        ),
    ]
    # 8. multi-term queries
    q += [
        PrefixQuery(prefix=mid[:3]),
        WildcardQuery(pattern=mid[:2] + "*" + mid[-1]),
        FuzzyQuery(term=mid, max_edits=2),
        TermRangeQuery(lower=mid[:2], upper=mid[:2] + "zzz"),
    ]
    return q


@pytest.fixture(scope="module")
def searchers(spark_index, oracle_index):
    return IndexSearcher(spark_index), OracleSearcher(oracle_index)


def _assert_identical(spark_hits, oracle_hits, qrepr=""):
    got = [(h.docid, np.float32(h.score)) for h in spark_hits]
    exp = [(d, s) for d, s in oracle_hits]
    assert len(got) == len(exp), f"{qrepr}: count {len(got)} != {len(exp)}"
    for i, ((gd, gs), (ed, es)) in enumerate(zip(got, exp)):
        assert gd == ed, f"{qrepr} rank {i}: docid {gd} != {ed} ({gs} vs {es})"
        assert gs.tobytes() == np.float32(es).tobytes(), (
            f"{qrepr} rank {i} doc {gd}: score bits {gs!r} != {es!r}"
        )


def test_reference_queryset_rank_identical(searchers, oracle_index):
    s, o = searchers
    for q in queryset(oracle_index):
        _assert_identical(s.search(q, 10), o.search(q, 10), repr(q)[:90])


def test_k_larger_than_hits(searchers, oracle_index):
    s, o = searchers
    rare, _, _ = _pick_terms(oracle_index)
    q = TermQuery(term=rare)
    _assert_identical(s.search(q, 1000), o.search(q, 1000), "k>hits")


def test_zero_hit_query(searchers):
    s, o = searchers
    q = TermQuery(term="zzz_not_in_corpus")
    assert s.search(q, 10) == []
    assert o.search(q, 10) == []


def test_phrases_rank_identical(searchers, oracle_index, corpus_rows):
    s, o = searchers
    # mine an actual 2- and 3-gram from doc 0 so phrases have hits
    from lucenenet_spark.analysis import analyze

    toks = analyze(corpus_rows[0]["content"])
    terms = [t for t, _ in toks]
    qs = [
        PhraseQuery(phrase_terms=(terms[0], terms[1])),
        PhraseQuery(phrase_terms=(terms[0], terms[1], terms[2])),
        PhraseQuery(phrase_terms=("zzz", "yyy")),
    ]
    # a phrase spanning a stopword gap: find adjacent tokens with pos gap 2
    for (t1, p1), (t2, p2) in zip(toks, toks[1:]):
        if p2 - p1 == 2:
            qs.append(PhraseQuery(phrase_terms=(t1, t2), term_positions=(0, 2)))
            break
    for q in qs:
        _assert_identical(s.search(q, 10), o.search(q, 10), repr(q)[:90])


def test_count_matches_oracle(searchers, oracle_index):
    s, o = searchers
    _, mid, head = _pick_terms(oracle_index)
    for q in [
        TermQuery(term=head),
        BooleanQuery.of((TermQuery(term=mid), S), (TermQuery(term=head), S)),
    ]:
        assert s.count(q) == o.count(q)


def test_pruning_is_rank_safe(spark_index, oracle_index):
    """Block-max pruning on/off produce identical top-k."""
    _, mid, head = _pick_terms(oracle_index)
    on = IndexSearcher(spark_index, prune=True)
    off = IndexSearcher(spark_index, prune=False)
    for term in (mid, head):
        _assert_identical(
            on.search(TermQuery(term=term), 10),
            [(h.docid, np.float32(h.score)) for h in off.search(TermQuery(term=term), 10)],
            f"prune:{term}",
        )


def test_pruning_forced_is_rank_safe_and_covers_topk(spark_index, oracle_index):
    """Force the pruning path (prune_min_df=0) at small k: results stay
    identical to the unpruned scorer, and every true top-k doc lies in
    a kept block (the rank-safety invariant, checked directly)."""
    from lucenenet_spark.functions import bm25
    from pyspark.sql import functions as F

    _, mid, head = _pick_terms(oracle_index)
    off = IndexSearcher(spark_index, prune=False)
    on = IndexSearcher(spark_index, prune=True, prune_min_df=0)
    for term, k in ((mid, 1), (head, 1), (head, 3)):
        truth = off.search(TermQuery(term=term), k)
        _assert_identical(
            on.search(TermQuery(term=term), k),
            [(h.docid, np.float32(h.score)) for h in truth],
            f"forced-prune:{term}:k={k}",
        )
        df_ = oracle_index.df(term)
        w = bm25.term_weight(bm25.idf(df_, on.index.max_doc), 1.0)
        blocks = on.index.packed.where(F.col("term") == term)
        kept = on._prune_blocks(blocks, w, on._cache, k).select(
            "first_docid", "last_docid"
        ).collect()
        for h in truth:
            assert any(
                b["first_docid"] <= h.docid <= b["last_docid"] for b in kept
            ), f"top-{k} doc {h.docid} pruned away for {term}"


def test_packed_term_matches_oracle(spark_index, oracle_index):
    _, mid, _ = _pick_terms(oracle_index)
    q = TermQuery(term=mid)
    _assert_identical(
        IndexSearcher(spark_index).search(q, 10),
        OracleSearcher(oracle_index).search(q, 10),
        "packed-vs-oracle",
    )
