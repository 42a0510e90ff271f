"""Term-statistics-driven query builders: MoreLikeThis and
CommonTermsQuery (SURVEY.md §2.9, reference
``src/Lucene.Net.Queries/Mlt/MoreLikeThis.cs:129`` and
``src/Lucene.Net.Queries/CommonTermsQuery.cs``).

Both are *planner* rules — pure driver-side functions from the term
dictionary to a Query AST that the normal searcher executes; no new
physical operators.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from lucenenet_spark.search.queries import BooleanQuery, Occur, Query, TermQuery
from lucenenet_spark.search.searcher import IndexSearcher


def doc_term_freqs(searcher: IndexSearcher, docid: int) -> DataFrame:
    """(term, freq) for one document, decoding only the blocks whose
    docid range holds it (``InvertedIndex.postings(docids=...)``)."""
    return searcher.index.postings(docids=[docid]).selectExpr("term", "freq")


def term_vector(searcher: IndexSearcher, docid: int) -> DataFrame:
    """Per-document term vector with positions — the Fields.GetTerms
    (term vectors, ``Index/Fields.cs`` / TermVectorsReader) surface:
    (term, freq, pos) rows for one document, decoding only the blocks
    that hold it (as :func:`doc_term_freqs`)."""
    return (
        searcher.index.postings(docids=[docid])
        .selectExpr("term", "CAST(freq AS BIGINT) AS freq", "explode(positions) AS pos")
        .selectExpr("term", "freq", "CAST(pos AS BIGINT) AS pos")
    )


def interesting_terms(
    searcher: IndexSearcher,
    docid: int,
    max_query_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
) -> list[tuple[str, int, int, float]]:
    """MLT term selection: rank the doc's terms by tf * idf with
    idf = ln(numDocs / (docFreq + 1)) + 1 (the classic-similarity idf
    the reference MLT scores candidates with), keep the best
    ``max_query_terms``. Returns [(term, tf, df, score)] sorted by
    (score desc, term asc) — the pinned tie-break making the selection
    deterministic."""
    tfs = {r["term"]: int(r["freq"]) for r in doc_term_freqs(searcher, docid).collect()}
    tfs = {t: f for t, f in tfs.items() if f >= min_term_freq}
    if not tfs:
        return []
    stats = searcher._collect_stats(BooleanQuery.of(
        *[(TermQuery(term=t), Occur.SHOULD) for t in sorted(tfs)]
    ))
    n = searcher.index.max_doc
    out = []
    for t, f in tfs.items():
        df_ = stats.get(t, (0, 0))[0]
        if df_ < min_doc_freq:
            continue
        idf = math.log(n / (df_ + 1)) + 1.0
        out.append((t, f, df_, f * idf))
    out.sort(key=lambda x: (-x[3], x[0]))
    return out[:max_query_terms]


def more_like_this(
    searcher: IndexSearcher,
    docid: int,
    max_query_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    boost_terms: bool = False,
) -> Query:
    """Build the MLT disjunction for a document. With ``boost_terms``
    each clause is boosted by score/best_score (the reference's Boost
    option); clause order = selection order (pinned)."""
    sel = interesting_terms(searcher, docid, max_query_terms, min_term_freq, min_doc_freq)
    if not sel:
        return BooleanQuery.of()
    best = sel[0][3]
    clauses = []
    for t, _f, _df, score in sel:
        boost = (score / best) if boost_terms else 1.0
        clauses.append((TermQuery(boost=boost, term=t), Occur.SHOULD))
    return BooleanQuery.of(*clauses)


def common_terms_query(
    searcher: IndexSearcher,
    terms: list[str],
    max_term_frequency: float = 0.01,
    low_freq_occur: Occur = Occur.MUST,
    high_freq_occur: Occur = Occur.SHOULD,
) -> Query:
    """CommonTermsQuery: terms whose docFreq exceeds
    ``max_term_frequency * maxDoc`` are demoted to a SHOULD-only
    rescoring clause; rare terms keep ``low_freq_occur``. The classic
    stopword-free way to keep high-df terms from dominating cost."""
    probe = BooleanQuery.of(*[(TermQuery(term=t), Occur.SHOULD) for t in sorted(set(terms))])
    stats = searcher._collect_stats(probe)
    cutoff = max_term_frequency * searcher.index.max_doc
    low, high = [], []
    for t in terms:
        df_ = stats.get(t, (0, 0))[0]
        if df_ == 0:
            continue
        (low if df_ <= cutoff else high).append(t)
    clauses = [(TermQuery(term=t), low_freq_occur) for t in low]
    clauses += [(TermQuery(term=t), high_freq_occur) for t in high]
    return BooleanQuery.of(*clauses)
