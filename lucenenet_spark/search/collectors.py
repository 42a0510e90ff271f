"""Collector-layer operators over scored results (SURVEY.md §2.5/2.7):
faceting, grouping, pagination, rescoring, hit counting.

Each takes the searcher + query and compiles to a declarative
DataFrame pipeline over the scored docs joined to the docs table —
Catalyst handles the join strategy (docs-side facet columns broadcast
when small) and `Window`/`TakeOrderedAndProject` give the two-pass
grouping / bounded top-k the reference implements imperatively
(``Lucene.Net.Grouping/GroupingSearch.cs:112-158``,
``Lucene.Net.Facet/Taxonomy/FastTaxonomyFacetCounts.cs:34``,
``Search/IndexSearcher.cs:282-301`` SearchAfter,
``Search/QueryRescorer.cs``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lucenenet_spark.index.postings import drop_deleted
from lucenenet_spark.search.queries import Query
from lucenenet_spark.search.searcher import IndexSearcher


from dataclasses import dataclass


@dataclass(frozen=True)
class SortField:
    """One sort key — the ``Search/SortField.cs:43-197`` analog.

    ``field`` names a docs-table column, or ``SortField.SCORE`` for
    relevance. Value fields sort ASCENDING by default and score sorts
    DESCENDING by default (the reference's natural orders);
    ``reverse`` flips either. ``missing_value`` is the sort value
    substituted for null/absent fields (SortField.SetMissingValue);
    left None, nulls sort last in whichever direction is active
    (Spark's nulls-last default matches Lucene's missing-last)."""

    field: str = ""
    reverse: bool = False
    missing_value: object = None

    SCORE = "__score__"

    def column(self):
        base = F.col("score") if self.field == SortField.SCORE else F.col(self.field)
        if self.missing_value is not None and self.field != SortField.SCORE:
            base = F.coalesce(base, F.lit(self.missing_value))
        descending = (self.field == SortField.SCORE) != self.reverse
        if descending:
            return base.desc_nulls_last()
        return base.asc_nulls_last()


def sort_topk(
    searcher: IndexSearcher,
    query: Query,
    sorts: list[SortField],
    k: int = 10,
) -> DataFrame:
    """TopFieldCollector (``Search/TopFieldCollector.cs:37``): top-k of
    a query's matches under an explicit Sort instead of relevance, with
    docid as the final tie-break. Output: (rank, docid, <each sort
    field's value>, score).

    Physical shape: scored docs join the docs table on docid (Catalyst
    broadcasts whichever side is small), then ORDER BY the sort columns
    LIMIT k — a TakeOrderedAndProject, i.e. per-partition bounded heaps
    + driver merge, exactly the reference's field-comparator queue
    distributed."""
    scored = searcher.scored_docs(query)
    field_cols = sorted(
        {s.field for s in sorts if s.field != SortField.SCORE}
    )
    joined = scored.join(
        searcher.index.docs.select("docid", *field_cols), "docid"
    )
    order = [s.column() for s in sorts] + [F.col("docid").asc()]
    top = joined.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "docid",
        *field_cols,
        F.col("score").cast("double").alias("score"),
    )


def total_hit_count(searcher: IndexSearcher, query: Query) -> int:
    """TotalHitCountCollector (``Search/TotalHitCountCollector.cs``)."""
    return searcher.count(query)


def facet_counts(
    searcher: IndexSearcher, query: Query, facet_col: str, top_n: int | None = None
) -> DataFrame:
    """Doc count per category among the query's matches
    (FastTaxonomyFacetCounts): (facet value, n_docs), ordered by count
    desc then value. The matched-doc set semi-joins the docs table —
    the facet column never ships through scoring."""
    matched = searcher.matching_docids(query)
    out = (
        searcher.index.docs.join(matched, "docid", "left_semi")
        .groupBy(F.col(facet_col).alias(facet_col))
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col(facet_col).asc())
    )
    return out.limit(top_n) if top_n else out


def sampled_facet_counts(
    searcher: IndexSearcher,
    query: Query,
    facet_col: str,
    sample_pct: int = 10,
    top_n: int | None = None,
) -> DataFrame:
    """RandomSamplingFacetsCollector
    (``Facet/RandomSamplingFacetsCollector.cs:47``): facet counts over
    a sample of the matched docs, plus the reference's amortized
    correction ``count / samplingRate`` (``:295``, with samplingRate =
    sampleSize/totalHits, ``:165``) as an exact integer
    ``floor(count * total_hits / sample_size)``.

    The reference samples with a per-segment XorShift RNG; we pin a
    VALUE-deterministic sampler instead — md5-prefix(docid) mod 100 <
    pct — so the sampled set is identical at any cluster size,
    partitioning, or retry (the same determinism rule as the docid
    assignment and the stratified splitter).

    Scale shape: one matched-docid scan; the facet aggregation and the
    meta join then touch only sample_pct% of the matches — the whole
    point at a 10^9-hit query. The totals row is a one-row broadcast
    cross join, inside the same action.
    """
    from lucenenet_spark.ops.hashing import md5_prefix_int_col

    matched = searcher.matching_docids(query)
    sampled = matched.where(
        md5_prefix_int_col(F.col("docid").cast("string")) % 100 < sample_pct
    )
    # both sides are 1-row aggregates: broadcast the right one so the
    # product plans as a broadcast join, not a BroadcastNestedLoopJoin
    totals = matched.agg(F.count("*").alias("__total")).crossJoin(
        F.broadcast(sampled.agg(F.count("*").alias("__sample")))
    )
    out = (
        searcher.index.docs.join(sampled, "docid", "left_semi")
        .groupBy(F.col(facet_col).alias(facet_col))
        .agg(F.count("*").alias("n_docs"))
        .crossJoin(F.broadcast(totals))
        .select(
            facet_col,
            "n_docs",
            # integer division: exact, no float rounding to disagree on
            F.expr("(n_docs * __total) DIV __sample").alias("est_docs"),
        )
        .orderBy(F.col("n_docs").desc(), F.col(facet_col).asc())
    )
    return out.limit(top_n) if top_n else out


def grouped_topk(
    searcher: IndexSearcher,
    query: Query,
    group_col: str,
    k_groups: int = 10,
    k_per_group: int = 3,
) -> DataFrame:
    """Two-pass grouping (GroupingSearch): top groups by best score,
    then top-k docs per group. Output: (group, group_rank, doc_rank,
    docid, score).

    ``group_col`` may also be a Column EXPRESSION over the docs table
    — the GroupingSearch.ByFunction / ValueSource-grouping variant
    (reference ``Grouping/Function/FunctionFirstPassGroupingCollector.cs``):
    the computed key rides the same docs join, so grouping by a
    function costs exactly what grouping by a stored column does.

    Scale shape: pass 1 is a hash aggregate (map-side combined) to one
    row per group, then a bounded top-k of groups via
    TakeOrderedAndProject — never a global single-partition window over
    all groups (10^8 groups would funnel through one task). Pass 2
    ranks docs only inside the k surviving groups (broadcast
    semi-join), so the per-group window sorts a bounded set."""
    scored = searcher.scored_docs(query)
    grp = F.col(group_col) if isinstance(group_col, str) else group_col
    with_group = scored.join(
        searcher.index.docs.select("docid", grp.alias("__grp")), "docid"
    )
    # per-group best (score desc, docid asc) as max(struct(score, -docid))
    grp_best = with_group.groupBy("__grp").agg(
        F.max(F.struct(F.col("score"), (-F.col("docid")).alias("nd"))).alias("b")
    ).select(
        "__grp", F.col("b.score").alias("__best"), (-F.col("b.nd")).alias("__best_doc")
    )
    top_groups = grp_best.orderBy(
        F.col("__best").desc(), F.col("__best_doc").asc()
    ).limit(k_groups)
    # rank the k surviving groups (k rows — the window is bounded)
    grp_w = Window.orderBy(F.col("__best").desc(), F.col("__best_doc").asc())
    top_groups = top_groups.withColumn("group_rank", F.row_number().over(grp_w))
    doc_w = Window.partitionBy("__grp").orderBy(F.col("score").desc(), F.col("docid").asc())
    ranked = (
        with_group.join(F.broadcast(top_groups.select("__grp", "group_rank")), "__grp")
        .withColumn("doc_rank", F.row_number().over(doc_w))
        .where(F.col("doc_rank") <= k_per_group)
    )
    return (
        ranked
        .select(
            F.col("__grp").alias("grp"),
            F.col("group_rank").cast("long").alias("group_rank"),
            F.col("doc_rank").cast("long").alias("doc_rank"),
            "docid",
            F.col("score").cast("double").alias("score"),
        )
        .orderBy("group_rank", "doc_rank")
    )


def filtered_topk(
    searcher: IndexSearcher, query: Query, predicate, k: int = 10
) -> DataFrame:
    """FilteredQuery (``Search/FilteredQuery.cs``): a non-scoring
    metadata predicate composed with a scoring query — the filter is a
    plain ``where`` on the docs table (parquet pushdown) semi-joined
    into the scored set; scores are untouched (the filter contributes
    matching, never scoring, like the reference's random-access
    strategy). Catalyst picks broadcast vs shuffle join by stats."""
    scored = searcher.scored_docs(query)
    keep = searcher.index.docs.where(predicate).select("docid")
    return (
        scored.join(keep, "docid", "left_semi")
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def sort_rescore(
    searcher: IndexSearcher,
    query: Query,
    sorts: list[SortField],
    k_first: int = 100,
    k_final: int = 10,
) -> DataFrame:
    """SortRescorer (``Search/SortRescorer.cs``): take the first-pass
    RELEVANCE top-k_first, then re-order those hits by an explicit Sort
    and keep k_final. Output shape matches sort_topk."""
    first = searcher.search_df(query, k_first)
    field_cols = sorted({s.field for s in sorts if s.field != SortField.SCORE})
    joined = first.join(
        searcher.index.docs.select("docid", *field_cols), "docid"
    )
    order = [s.column() for s in sorts] + [F.col("docid").asc()]
    top = joined.orderBy(*order).limit(k_final)
    w = Window.orderBy(*order)
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "docid",
        *field_cols,
        F.col("score").cast("double").alias("score"),
    )


def field_value_filter(
    searcher: IndexSearcher, query: Query, col_name: str, k: int = 10
) -> DataFrame:
    """FieldValueFilter (``Search/FieldValueFilter.cs``): restrict a
    query's matches to documents that HAVE a value for a field — the
    isNotNull predicate pushed to the docs-table parquet scan."""
    return filtered_topk(searcher, query, F.col(col_name).isNotNull(), k)


def sort_search_after(
    searcher: IndexSearcher,
    query: Query,
    sort: SortField,
    after_value,
    after_docid: int,
    k: int = 10,
) -> DataFrame:
    """Cursor pagination under a field Sort (the SearchAfter overload
    taking a FieldDoc): the next k hits strictly after
    (after_value, after_docid) in the sort order, docid as tie-break.
    Single sort key (compound cursors compose the same WHERE)."""
    scored = searcher.scored_docs(query)
    joined = scored.join(
        searcher.index.docs.select("docid", sort.field), "docid"
    )
    col = F.col(sort.field)
    descending = sort.reverse
    if descending:
        cursor = (col < after_value) | ((col == after_value) & (F.col("docid") > after_docid))
        order = [col.desc_nulls_last(), F.col("docid").asc()]
    else:
        cursor = (col > after_value) | ((col == after_value) & (F.col("docid") > after_docid))
        order = [col.asc_nulls_last(), F.col("docid").asc()]
    return (
        joined.where(cursor)
        .orderBy(*order)
        .limit(k)
        .select("docid", sort.field, F.col("score").cast("double").alias("score"))
    )


def search_after(
    searcher: IndexSearcher,
    query: Query,
    k: int,
    after_score: float,
    after_docid: int,
) -> DataFrame:
    """Cursor pagination (IndexSearcher.SearchAfter): the next k hits
    strictly after (after_score, after_docid) in (score desc, docid
    asc) order — a WHERE on the sort key, still one bounded top-k."""
    scored = searcher.scored_docs(query)
    a = np.float32(after_score)
    cursor = (F.col("score") < float(a)) | (
        (F.col("score") == float(a)) & (F.col("docid") > after_docid)
    )
    return (
        scored.where(cursor)
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def highlight(
    searcher: IndexSearcher, query: Query, window: int = 10, k: int = 10
) -> DataFrame:
    """Best-fragment extraction (``Highlighter/Highlight/Highlighter.cs:34``
    role) in TOKEN-POSITION space: for each top-k hit, the window of
    ``window`` consecutive positions holding the most query-term
    occurrences, ties to the earliest start. Output (docid, frag_start,
    frag_end, n_hits).

    Divergence (documented): the reference scores char-offset fragments
    by summed term weights; positions are what the index stores, so the
    fragment is a token window (apps map token->char at render time)
    and the fragment score is the hit count. Physical shape: the packed
    scan prunes to the query terms AND the hit docids' blocks before
    any decode, then a bounded per-doc self-join scores windows —
    never a full positions scan."""
    # k hit docids collected driver-side (bounded by k), so the
    # postings read prunes its blocks to them before any decode
    top_ids = [
        r["docid"] for r in searcher.search_df(query, k).select("docid").collect()
    ]
    if not top_ids:
        return searcher.index.docs.sparkSession.createDataFrame(
            [], "docid long, frag_start long, frag_end long, n_hits long"
        )
    hits = searcher.index.postings(sorted(set(query.terms())), top_ids).select(
        "docid", F.explode("positions").alias("p")
    )
    a = hits.select("docid", F.col("p").alias("start"))
    b = hits.select("docid", F.col("p").alias("hit"))
    counts = (
        a.join(b, "docid")
        .where((F.col("hit") >= F.col("start")) & (F.col("hit") < F.col("start") + window))
        .groupBy("docid", "start")
        .agg(F.count("*").alias("n_hits"))
    )
    best = counts.groupBy("docid").agg(
        F.max(F.struct(F.col("n_hits"), (-F.col("start")).alias("ns"))).alias("b")
    )
    return best.select(
        "docid",
        (-F.col("b.ns")).cast("long").alias("frag_start"),
        (-F.col("b.ns") + window - 1).cast("long").alias("frag_end"),
        F.col("b.n_hits").cast("long").alias("n_hits"),
    )


def highlight_snippets(
    searcher: IndexSearcher,
    query: Query,
    source_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 10,
    k: int = 10,
) -> DataFrame:
    """Char-offset snippet highlighting — the full
    ``Highlighter/Highlight/Highlighter.cs:34`` surface. The reference
    highlighter re-analyzes the STORED text of each hit through a
    TokenStream (``TokenSources.GetAnyTokenStream``) to recover char
    offsets; we do the same: the top-k hits' text rows (k rows, a
    broadcast semi-join against the source table) re-tokenize inside
    one pandas UDF, the best ``window``-token fragment is chosen by
    hit count (ties -> earliest, same rule as :func:`highlight`), and
    the fragment maps through the OffsetAttribute analog to char
    offsets. Output (docid, frag_start, frag_end, n_hits, snippet) —
    offsets/snippet over the lowercased text (length-preserving for
    the ASCII token alphabet; pinned so the SQL oracle is
    bit-comparable). The index itself stays positions-only: decoding
    k stored docs per query beats carrying an offsets column through
    every posting block at 100 TB."""
    top_ids = [
        int(r["docid"]) for r in searcher.search_df(query, k).select("docid").collect()
    ]
    spark = searcher.index.docs.sparkSession
    empty_schema = (
        "docid long, frag_start long, frag_end long, n_hits long, snippet string"
    )
    if not top_ids:
        return spark.createDataFrame([], empty_schema)
    terms = set(query.terms())
    want = spark.createDataFrame([(d,) for d in top_ids], "docid long")
    texts = source_docs.select(
        F.col(id_col).cast("long").alias("docid"), F.col(text_col).alias("__text")
    ).join(F.broadcast(want), "docid", "left_semi")
    win = int(window)

    def best_fragment(iterator):
        from lucenenet_spark.analysis.analyzer import analyze_offsets

        for pdf in iterator:
            rows = []
            for docid, text in zip(pdf["docid"], pdf["__text"]):
                toks = analyze_offsets(text or "")
                if not toks:
                    continue
                hit_pos = [p for t, p, _s, _e in toks if t in terms]
                if not hit_pos:
                    continue
                arr = np.asarray(hit_pos, dtype=np.int64)
                # best start among hit positions: most hits in
                # [p, p+window), ties to earliest
                counts = [
                    (int(np.count_nonzero((arr >= p) & (arr < p + win))), -p)
                    for p in hit_pos
                ]
                n_hits, negp = max(counts)
                p = -negp
                q = min(p + win - 1, len(toks) - 1)
                start_char = toks[p][2]
                end_char = toks[q][3]
                rows.append(
                    (
                        int(docid),
                        int(start_char),
                        int(end_char),
                        int(n_hits),
                        (text or "").lower()[start_char:end_char],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["docid", "frag_start", "frag_end", "n_hits", "snippet"],
            )

    return texts.mapInPandas(best_fragment, schema=empty_schema)


def facet_ranges(
    searcher: IndexSearcher,
    query: Query,
    col_name: str,
    ranges: list[tuple[str, int, int]],
) -> DataFrame:
    """Range facets (``Facet/Range/Int64RangeFacetCounts.cs`` role):
    doc count per [lo, hi) range among the query's matches — ranges may
    overlap and every requested range appears (zero counts included).
    Output (label, n_docs)."""
    spark = searcher.index.docs.sparkSession
    matched = searcher.matching_docids(query)
    vals = searcher.index.docs.join(matched, "docid", "left_semi").select(
        F.col(col_name).alias("__v")
    )
    rng = spark.createDataFrame(
        [(label, int(lo), int(hi)) for label, lo, hi in ranges],
        "label string, lo long, hi long",
    )
    counted = (
        vals.crossJoin(F.broadcast(rng))
        .where((F.col("__v") >= F.col("lo")) & (F.col("__v") < F.col("hi")))
        .groupBy("label")
        .agg(F.count("*").alias("n"))
    )
    return (
        rng.join(counted, "label", "left")
        .select("label", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_docs"))
    )


def drill_sideways(
    searcher: IndexSearcher, query: Query, drill_downs: dict[str, object]
) -> DataFrame:
    """DrillSideways (``Facet/DrillSideways.cs``): given a base query
    plus per-dimension drill-down constraints, return for EACH dim the
    facet counts computed with all the OTHER dims' constraints applied
    — what the UI shows so a user can see how switching a selection
    would change the result — plus the fully-drilled hit count as the
    ``__hits__`` row. Output (dim, value, n_docs).

    One matched-docs semi-join feeds every dimension's aggregate;
    per-dim passes differ only in cheap docs-table predicates."""
    matched = searcher.matching_docids(query)
    base = searcher.index.docs.join(matched, "docid", "left_semi")
    parts = []
    for dim in sorted(drill_downs):
        others = F.lit(True)
        for other, val in drill_downs.items():
            if other != dim:
                others = others & (F.col(other) == F.lit(val))
        parts.append(
            base.where(others)
            .groupBy(F.col(dim).cast("string").alias("value"))
            .agg(F.count("*").cast("long").alias("n_docs"))
            .select(F.lit(dim).alias("dim"), "value", "n_docs")
        )
    fully = F.lit(True)
    for other, val in drill_downs.items():
        fully = fully & (F.col(other) == F.lit(val))
    spark = base.sparkSession
    hits = base.where(fully).count()
    parts.append(
        spark.createDataFrame([("__hits__", "", int(hits))], "dim string, value string, n_docs long")
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def group_distinct(
    searcher: IndexSearcher, query: Query, group_col: str, value_col: str
) -> DataFrame:
    """Distinct values per group among matches
    (``Grouping/AbstractDistinctValuesCollector.cs``): one row per
    (group, value) pair — a plain distinct over the semi-joined docs
    table (hash aggregate; no windows, no collect_set blowup)."""
    matched = searcher.matching_docids(query)
    return (
        searcher.index.docs.join(matched, "docid", "left_semi")
        .select(F.col(group_col).alias("grp"), F.col(value_col).alias("val"))
        .distinct()
    )


def boost_by_value(
    searcher: IndexSearcher, query: Query, value_col: str, k: int = 10
) -> DataFrame:
    """FunctionQuery / ValueSource analog
    (``Queries/Function/FunctionQuery.cs:34``; boost-by-recency/
    popularity): score' = float32(score * float32(ln(1 + value))) —
    the relevance score modulated by a stored numeric field, float32
    op order pinned (ln computed in double then truncated, matching
    the SQL oracle bit-for-bit)."""
    scored = searcher.scored_docs(query)
    vals = searcher.index.docs.select("docid", F.col(value_col).alias("__v"))
    joined = scored.join(vals, "docid")

    @F.pandas_udf("float")
    def combine(s: pd.Series, v: pd.Series) -> pd.Series:
        factor = np.log(1.0 + v.to_numpy(dtype=np.float64)).astype(np.float32)
        return pd.Series(
            (s.to_numpy(dtype=np.float32) * factor).astype(np.float32)
        )

    return (
        joined.select("docid", combine(F.col("score"), F.col("__v")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def grouped_facet_counts(
    searcher: IndexSearcher, query: Query, group_col: str, facet_col: str
) -> DataFrame:
    """TermGroupFacetCollector analog
    (``Grouping/Term/TermGroupFacetCollector.cs:38``): per facet value,
    the number of DISTINCT GROUPS among the query's matches (not the
    doc count — a facet value present in many docs of one group counts
    once). Output (facet value, n_groups), n_groups desc / value asc.
    Plan: matched docids semi-join the docs table, then one hash
    aggregate keyed by (facet, group) collapsing into countDistinct —
    partial aggregation map-side, no window, no driver data."""
    matched = searcher.scored_docs(query).select("docid")
    d = searcher.index.docs.select(
        "docid", F.col(group_col).alias("grp"), F.col(facet_col).alias("value")
    )
    return (
        matched.join(d, "docid")
        .where(F.col("value").isNotNull() & F.col("grp").isNotNull())
        .groupBy("value")
        .agg(F.count_distinct("grp").cast("long").alias("n_groups"))
        .orderBy(F.col("n_groups").desc(), F.col("value").asc())
    )


def term_freq_topk(searcher: IndexSearcher, term: str, k: int = 10) -> DataFrame:
    """TermFreqValueSource FunctionQuery analog
    (``Queries/Function/ValueSources/TermFreqValueSource.cs:33``): rank
    the docs containing ``term`` by its raw term frequency. Output
    (rank, docid, tf); ties break docid asc. One packed scan with the
    term equality BELOW the unpack barrier (parquet term pushdown) —
    cost is the one posting list, independent of index size."""
    p = searcher.index.postings([term]).select(
        "docid", F.col("freq").cast("long").alias("tf")
    )
    p = drop_deleted(p, searcher.tombstones)
    w = Window.orderBy(F.col("tf").desc(), F.col("docid").asc())
    return (
        p.orderBy(F.col("tf").desc(), F.col("docid").asc())
        .limit(k)
        .select(F.row_number().over(w).cast("long").alias("rank"), "docid", "tf")
    )


def norm_value_topk(searcher: IndexSearcher, term: str, k: int = 10) -> DataFrame:
    """NormValueSource FunctionQuery analog
    (``Queries/Function/ValueSources/NormValueSource.cs:44``): rank the
    docs containing ``term`` by the similarity-decoded index-time norm
    (``byte315_to_float`` of the stored norm byte — higher = shorter
    doc). Output (rank, docid, norm_value float32); ties docid asc.
    The 255-entry decode table joins as a broadcast; the posting list
    arrives through the same pruned packed scan as term_freq_topk."""
    from lucenenet_spark.functions.smallfloat import byte315_to_float

    spark = searcher.index.packed.sparkSession
    dec = byte315_to_float(np.arange(256, dtype=np.uint8))
    table = spark.createDataFrame(
        [(int(b), float(dec[b])) for b in range(256)], "norm int, norm_value float"
    )
    p = searcher.index.postings([term]).select("docid", "norm")
    p = drop_deleted(p, searcher.tombstones)
    joined = p.join(F.broadcast(table), "norm").select("docid", "norm_value")
    w = Window.orderBy(F.col("norm_value").desc(), F.col("docid").asc())
    return (
        joined.orderBy(F.col("norm_value").desc(), F.col("docid").asc())
        .limit(k)
        .select(
            F.row_number().over(w).cast("long").alias("rank"), "docid", "norm_value"
        )
    )


def expression_topk(
    searcher: IndexSearcher, query: Query, expr: str, k: int = 10
) -> DataFrame:
    """Expression-sorted results (Expressions module /
    ``JS/JavascriptCompiler.cs`` role): rank a query's matches by an
    arithmetic expression over ``score`` and docs-table fields, e.g.
    ``"score * ln(1 + field_length)"``. The expression compiles to
    Catalyst Columns (whole-stage codegen, double precision, no UDF);
    output (rank, docid, expr_score)."""
    from lucenenet_spark.functions.expressions import compile_expression

    scored = searcher.scored_docs(query)
    import ast as _ast

    tree = _ast.parse(expr, mode="eval")
    fn_names = {
        n.func.id
        for n in _ast.walk(tree)
        if isinstance(n, _ast.Call) and isinstance(n.func, _ast.Name)
    }
    idents = {
        n.id for n in _ast.walk(tree) if isinstance(n, _ast.Name)
    } - fn_names
    field_cols = sorted(idents - {"score"})
    joined = scored.join(
        searcher.index.docs.select("docid", *field_cols), "docid"
    )
    fields = {"score": F.col("score"), **{c: F.col(c) for c in field_cols}}
    val = compile_expression(expr, fields)
    top = joined.select("docid", val.alias("expr_score")).orderBy(
        F.col("expr_score").desc(), F.col("docid").asc()
    ).limit(k)
    w = Window.orderBy(F.col("expr_score").desc(), F.col("docid").asc())
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), "docid", "expr_score"
    )


def facet_taxonomy(
    searcher: IndexSearcher, query: Query, levels: list[str]
) -> DataFrame:
    """Hierarchical (taxonomy) facet counts
    (``Facet/Taxonomy/FastTaxonomyFacetCounts.cs`` role): doc counts at
    EVERY level of a dimension path among the query's matches — the
    drill-down tree. Spark-first: one ROLLUP aggregate (no per-level
    passes); output (depth, path, n_docs) with path = '/'-joined
    values, depth 0 = the root total."""
    matched = searcher.matching_docids(query)
    rolled = (
        searcher.index.docs.join(matched, "docid", "left_semi")
        .rollup(*levels)
        .count()
    )
    # depth = number of non-null level columns in the rollup row
    depth = sum(
        F.when(F.col(c).isNotNull(), 1).otherwise(0) for c in levels
    )
    path = F.concat_ws(
        "/", *[F.coalesce(F.col(c), F.lit("")) for c in levels]
    )
    return rolled.select(
        depth.cast("long").alias("depth"),
        F.regexp_replace(path, "/+$", "").alias("path"),
        F.col("count").cast("long").alias("n_docs"),
    )


def rescore(
    searcher: IndexSearcher,
    first_query: Query,
    second_query: Query,
    k_first: int = 100,
    k_final: int = 10,
    weight_first: float = 1.0,
    weight_second: float = 1.0,
) -> DataFrame:
    """QueryRescorer: rescore the first-pass top-k with a second query,
    combined score = w1*first + w2*second (0 when the second query
    misses the doc), float32 op order pinned."""
    first = searcher.search_df(first_query, k_first).select(
        "docid", F.col("score").alias("__s1")
    )
    second = searcher.scored_docs(second_query).select(
        "docid", F.col("score").alias("__s2")
    )
    w1 = float(np.float32(weight_first))
    w2 = float(np.float32(weight_second))

    @F.pandas_udf("float")
    def combine(s1: pd.Series, s2: pd.Series) -> pd.Series:
        a = s1.to_numpy(dtype=np.float32)
        b = np.nan_to_num(s2.to_numpy(dtype=np.float32), nan=0.0)
        return pd.Series(
            (np.float32(w1) * a + np.float32(w2) * b).astype(np.float32)
        )

    return (
        first.join(second, "docid", "left")
        .select("docid", combine(F.col("__s1"), F.col("__s2")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k_final)
    )


def high_freq_terms(
    searcher: IndexSearcher, k: int = 10, order_by: str = "df"
) -> DataFrame:
    """HighFreqTerms (``Lucene.Net.Misc/Misc/HighFreqTerms.cs:38``):
    the k terms with highest document frequency (or total term
    frequency, the -t flag). A pure JVM TakeOrdered over the
    term_stats metadata aggregate — no posting decode at any scale."""
    if order_by not in ("df", "ttf"):
        raise ValueError("order_by must be 'df' or 'ttf'")
    return (
        searcher.index.term_stats.orderBy(
            F.col(order_by).desc(), F.col("term").asc()
        )
        .limit(k)
        .select("term", "df", "ttf")
    )


def duplicate_filter(
    searcher: IndexSearcher,
    query: Query,
    key_col: str,
    keep: str = "first",
    k: int = 10,
) -> DataFrame:
    """DuplicateFilter (``Lucene.Net.Sandbox/Queries/DuplicateFilter.cs:30``):
    restrict matches to the single FIRST (min docid) or LAST (max
    docid) document per key-field value, computed over the whole index
    like the reference's per-term bitset (docs with a NULL key carry
    no term and are excluded). The keeper set is a metadata-only
    hash aggregate semi-joined into the scored set — broadcastable
    whenever the key cardinality is small."""
    if keep not in ("first", "last"):
        raise ValueError("keep must be 'first' or 'last'")
    agg = F.min("docid") if keep == "first" else F.max("docid")
    keepers = (
        searcher.index.docs.where(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(agg.alias("docid"))
        .select("docid")
    )
    return (
        searcher.scored_docs(query)
        .join(keepers, "docid", "left_semi")
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def boosting_query(
    searcher: IndexSearcher,
    match: Query,
    context: Query,
    demote_boost: float = 0.5,
    k: int = 10,
) -> DataFrame:
    """BoostingQuery (``Lucene.Net.Queries/BoostingQuery.cs:32``):
    score the match query normally, but multiply the score by
    ``demote_boost`` for documents that ALSO match the context query
    (typically < 1 to demote). The context query affects scoring only,
    never recall. One scored scan plus a docid semi-set left join;
    float32 multiply matches the oracle bit-for-bit."""
    import numpy as np

    scored = searcher.scored_docs(match)
    ctx = searcher.matching_docids(context).withColumn("__ctx", F.lit(True))
    b = float(np.float32(demote_boost))
    joined = scored.join(ctx, "docid", "left")
    score = F.when(
        F.col("__ctx").isNotNull(),
        (F.col("score") * F.lit(b).cast("float")).cast("float"),
    ).otherwise(F.col("score"))
    return (
        joined.select("docid", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def facet_sum_value(
    searcher: IndexSearcher,
    query: Query,
    facet_col: str,
    value_col: str,
) -> DataFrame:
    """Association facets (``Lucene.Net.Facet/Taxonomy/
    TaxonomyFacetSumInt32Associations.cs:30``): per category, SUM an
    associated numeric value over the matching documents instead of
    counting them. One matching-docid set, one broadcastable join to
    the docs table, one hash aggregate — the same shape as
    facet_counts with a sum payload."""
    hits = searcher.matching_docids(query)
    return (
        searcher.index.docs.select("docid", facet_col, value_col)
        .join(hits, "docid")
        .groupBy(facet_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(value_col).cast("long").alias("sum_value"),
        )
        .orderBy(F.col("sum_value").desc(), F.col(facet_col).asc())
    )


def all_group_heads(
    searcher: IndexSearcher, query: Query, group_col: str
) -> DataFrame:
    """AllGroupHeadsCollector (``Lucene.Net.Grouping/
    AllGroupHeadsCollector.cs:30``): for EVERY group value among the
    matches, the single best document (score desc, docid asc) — one
    map-side-combined hash aggregate via max(struct(score, -docid)),
    never a global window, so 10^8 groups stay a plain shuffle-free-ish
    agg. Output (grp, docid, score) ordered by group."""
    scored = searcher.scored_docs(query)
    with_group = scored.join(
        searcher.index.docs.select("docid", F.col(group_col).alias("grp")),
        "docid",
    )
    return (
        with_group.groupBy("grp")
        .agg(
            F.max(F.struct(F.col("score"), (-F.col("docid")).alias("nd"))).alias("b")
        )
        .select(
            "grp",
            (-F.col("b.nd")).cast("long").alias("docid"),
            F.col("b.score").cast("double").alias("score"),
        )
        .orderBy("grp")
    )


def early_terminating_sorted_topk(index, k: int, fields: list[str]) -> DataFrame:
    """EarlyTerminatingSortingCollector over a sort-built index
    (reference ``Misc/Index/Sorter/SortingMergePolicy.cs`` +
    ``EarlyTerminatingSortingCollector.cs:59``): when the corpus was
    built with ``CorpusSpec.order_cols`` equal to the query sort, docid
    order IS the sort order, so the global top-k under that sort is
    exactly docids [0, k).

    The plan is ``docid < k`` + orderBy(docid) + limit — the docid
    predicate reaches the parquet scan, and because the fused writer
    emits docid-range-disjoint files, min/max row-group pruning skips
    every file outside [0, k): the distributed analog of the
    reference's per-segment early termination (collect k docs per
    sorted segment, then throw ``CollectionTerminatedException``).

    Output: (rank, docid, <fields...>).
    """
    top = (
        index.docs.where(F.col("docid") < k)
        .orderBy("docid")
        .limit(k)
        .select("docid", *fields)
    )
    w = Window.orderBy("docid")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), "docid", *fields
    )


def chained_filter(
    searcher: IndexSearcher, filters: list, ops: list[str]
) -> DataFrame:
    """ChainedFilter (reference ``Lucene.Net.Queries/ChainedFilter.cs``):
    fold a list of filters into one DocIdSet with a per-step logic op
    from {or, and, andnot, xor}.

    Initial-result semantics mirror ``InitialResult`` (:70): when the
    FIRST op is ``and`` the accumulator starts as filter 0's set; when
    it is ``andnot`` it starts as the COMPLEMENT of filter 0 (all live
    docids minus the set); otherwise the fold starts from the empty
    set (so a leading ``or``/``xor`` both reduce to the set itself).

    Each filter is either a pyspark Column predicate over the docs
    table (pushed to the parquet scan) or a Query (non-scoring
    ``matching_docids`` view). Set algebra runs as distinct docid-set
    joins — at cluster scale each step is one hash join co-partitioned
    on docid, never a driver-side bitset; the reference's FixedBitSet
    per segment becomes Spark's distributed set ops.

    Output: the final docid set, one ``docid`` column.
    """
    if len(filters) != len(ops):
        raise ValueError("Invalid number of elements in logic array")

    def to_set(f) -> DataFrame:
        if isinstance(f, Query):
            return searcher.matching_docids(f)
        return searcher.index.docs.where(f).select("docid")

    all_docs = searcher.index.docs.select("docid")
    first = ops[0].lower()
    if first == "and":
        acc, start = to_set(filters[0]), 1
    elif first == "andnot":
        acc, start = all_docs.exceptAll(to_set(filters[0])), 1
    else:
        acc, start = None, 0
    for i in range(start, len(filters)):
        s = to_set(filters[i])
        op = ops[i].lower()
        if acc is None:
            # fold from the empty set: or/xor yield s, and/andnot empty
            acc = s if op in ("or", "xor") else s.limit(0)
            continue
        if op == "or":
            acc = acc.union(s).distinct()
        elif op == "and":
            acc = acc.intersect(s)
        elif op == "andnot":
            acc = acc.exceptAll(s)
        elif op == "xor":
            acc = acc.union(s).distinct().exceptAll(acc.intersect(s))
        else:
            raise ValueError(f"unknown chained-filter op: {op}")
    return acc


def custom_score_topk(
    searcher: IndexSearcher, query: Query, value_exprs: list, k: int = 10
) -> DataFrame:
    """CustomScoreQuery with the default provider (reference
    ``Lucene.Net.Queries/CustomScoreQuery.cs`` +
    ``CustomScoreProvider.cs:70``): ModifiedScore = subQueryScore ×
    valSrcScores[0] × valSrcScores[1] × … — one float32 multiply per
    value source, folded left-to-right in clause order.

    ``value_exprs`` are Column expressions over the docs table (the
    FunctionQuery/ValueSource analogs); each is truncated to float32
    before the fold so the arithmetic is bit-deterministic. The plan
    is one scored scan joined once against the docs table — the value
    sources ride the same join, never extra scans.
    """
    scored = searcher.scored_docs(query)
    vals = [e.cast("float").alias(f"__v{i}") for i, e in enumerate(value_exprs)]
    joined = scored.join(
        searcher.index.docs.select("docid", *vals), "docid"
    )
    s = F.col("score").cast("float")
    for i in range(len(value_exprs)):
        s = (s * F.col(f"__v{i}")).cast("float")
    return (
        joined.select("docid", s.alias("score"))
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def scale_function_topk(
    searcher: IndexSearcher,
    query: Query,
    col_name: str,
    min_target: float = 0.0,
    max_target: float = 1.0,
    k: int = 10,
) -> DataFrame:
    """CustomScoreQuery over a scale() value source (reference
    ``Queries/Function/ValueSources/ScaleFloatFunction.cs``): the
    stored field is min/max-normalized to [min_target, max_target] —
    ``scale = (max==min) ? 0 : (maxT-minT)/(max-min)`` (:116), value =
    ``(val - minSource) * scale + minT`` (:148), all float32 — then
    multiplied into the subquery score.

    The reference's CreateScaleInfo pass over every value (:102)
    becomes ONE min/max aggregate broadcast-crossJoined into the
    scored plan — two passes over the column, zero driver collects.
    Every arithmetic step is cast to float32 so Spark's
    double-arithmetic-then-truncate matches DuckDB's bit-for-bit.
    """
    docs = searcher.index.docs
    mm = docs.agg(
        F.min(col_name).cast("float").alias("__mn"),
        F.max(col_name).cast("float").alias("__mx"),
    )
    scored = (
        searcher.scored_docs(query)
        .join(docs.select("docid", col_name), "docid")
        .crossJoin(F.broadcast(mm))
    )
    mn, mx = F.col("__mn"), F.col("__mx")
    tgt_span = (
        F.lit(float(max_target)).cast("float") - F.lit(float(min_target)).cast("float")
    ).cast("float")
    scale = (
        F.when(mx == mn, F.lit(0.0).cast("float"))
        .otherwise((tgt_span / (mx - mn).cast("float")).cast("float"))
    )
    val = (
        ((F.col(col_name).cast("float") - mn).cast("float") * scale).cast("float")
        + F.lit(float(min_target)).cast("float")
    ).cast("float")
    s = (F.col("score").cast("float") * val).cast("float")
    return (
        scored.select("docid", s.alias("score"))
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def phrase_snippets(
    searcher: IndexSearcher,
    terms: list[str],
    source_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Phrase-accurate highlighting — the FastVectorHighlighter role
    (reference ``Highlighter/VectorHighlight/FieldTermStack.cs`` +
    ``FieldPhraseList.cs``: rebuild the term stack for one doc, walk
    it for positions where the WHOLE phrase matches, emit char spans).
    Term-window highlighters mark every member term anywhere; this
    marks only real phrase occurrences.

    The top-k docs come from the normal PhraseQuery plan; their k
    stored texts re-analyze with offsets inside one Arrow batch (the
    TokenSources idiom highlight_snippets already uses — the index
    stays positions-only). A match is the full term sequence at
    consecutive positions (stopword gaps break adjacency, same as the
    index's exact-phrase semantics).

    Output: (docid, pos, start_char, end_char, matched) — one row per
    occurrence, offsets over the lowercased text.
    """
    from lucenenet_spark.search.queries import PhraseQuery

    terms = [t.lower() for t in terms]
    q = PhraseQuery(phrase_terms=tuple(terms))
    top_ids = [
        int(r["docid"]) for r in searcher.search_df(q, k).select("docid").collect()
    ]
    spark = searcher.index.docs.sparkSession
    empty_schema = (
        "docid long, pos long, start_char long, end_char long, matched string"
    )
    if not top_ids:
        return spark.createDataFrame([], empty_schema)
    want = spark.createDataFrame([(d,) for d in top_ids], "docid long")
    texts = source_docs.select(
        F.col(id_col).cast("long").alias("docid"), F.col(text_col).alias("__text")
    ).join(F.broadcast(want), "docid", "left_semi")
    L = len(terms)

    def matches(iterator):
        from lucenenet_spark.analysis.analyzer import analyze_offsets

        for pdf in iterator:
            rows = []
            for docid, text in zip(pdf["docid"], pdf["__text"]):
                lt = (text or "").lower()
                posmap = {p: (t, s, e) for t, p, s, e in analyze_offsets(text or "")}
                for p, (t, s, _e) in posmap.items():
                    if t != terms[0]:
                        continue
                    tail = [posmap.get(p + j) for j in range(1, L)]
                    if any(x is None or x[0] != terms[j + 1] for j, x in enumerate(tail)):
                        continue
                    end = tail[-1][2] if L > 1 else _e
                    rows.append((int(docid), int(p), int(s), int(end), lt[s:end]))
            yield pd.DataFrame(
                rows,
                columns=["docid", "pos", "start_char", "end_char", "matched"],
            )

    return texts.mapInPandas(matches, schema=empty_schema)


def time_limited_topk(
    searcher: IndexSearcher, query: Query, doc_budget: int, k: int = 10
) -> DataFrame:
    """TimeLimitingCollector analog (reference
    ``Search/TimeLimitingCollector.cs:30``: abort collection when a
    wall-clock budget expires, surfacing the hits gathered so far as
    partial results). A distributed batch engine has no per-row clock
    to poll — and a wall-clock cutoff would make results
    non-deterministic across runs and cluster sizes — so the analog
    bounds WORK instead of time: only docids < ``doc_budget`` are
    visited, exactly the prefix a single-threaded reference collector
    would have scored before its timer fired (docids are assigned in
    corpus order, the reference's collection order).

    Rank-safe within the visited prefix, and the ``docid <
    doc_budget`` predicate reaches the parquet scan, where the fused
    writer's docid-range-disjoint files turn the budget into file-level
    pruning — the smaller the budget, the less is read, which is the
    entire point of the reference class.

    Output: (rank, docid, score, partial) — ``partial`` mirrors
    TimeExceededException's "these are partial results" signal.
    """
    scored = searcher.scored_docs(query).where(F.col("docid") < doc_budget)
    partial = bool(doc_budget < searcher.index.max_doc)
    top = scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("docid").asc())
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "docid",
        F.col("score").cast("double").alias("score"),
        F.lit(partial).alias("partial"),
    )


# Sentence-chunk regex for passage highlighting: a run without
# terminators followed by its terminators, or a trailing fragment.
# Same leftmost-first semantics in Java regex (engine) and RE2
# (DuckDB oracle), so passage boundaries match bit-for-bit.
SENTENCE_PATTERN = r"[^.!?]*[.!?]+|[^.!?]+"


def postings_highlight(
    searcher: IndexSearcher,
    query: Query,
    source_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    max_passages: int = 2,
    k1: float = 1.2,
    b: float = 0.75,
    pivot: float = 87.0,
) -> DataFrame:
    """PostingsHighlighter role (``Highlighter/PostingsHighlight/
    PostingsHighlighter.cs``): split each top-k hit's text into
    sentence passages and rank passages as miniature documents with
    the reference's exact PassageScorer formulas
    (``PassageScorer.cs:77-111``):

    - ``weight(term) = (k1+1) * ln(1 + (numDocs+0.5)/(ttf+0.5))``
      with ``numDocs = 1 + contentLength/pivot`` (char-length proxy)
    - ``tf(freq, plen) = freq / (freq + k1*((1-b) + b*plen/pivot))``
    - ``norm(start) = 1 + 1/ln(pivot + start)``
    - passage score = ``norm * Σ_terms weight * tf``

    Transcendentals are float32-truncated at each node so the oracle's
    libm cannot flip the hash; the weighted sum folds in sorted-term
    order on both engines.

    All JVM Column ops — sentence split, offsets, per-passage tf —
    run on exactly the k hit documents (broadcast semi-join), so the
    stage is O(k · doc_length) regardless of corpus size. Output:
    (docid, passage_rank, pstart, score, passage).
    """
    from lucenenet_spark.analysis.analyzer import TOKEN_PATTERN

    top_ids = [
        int(r["docid"]) for r in searcher.search_df(query, k).select("docid").collect()
    ]
    spark = searcher.index.docs.sparkSession
    empty = "docid long, passage_rank long, pstart long, score double, passage string"
    if not top_ids:
        return spark.createDataFrame([], empty)
    terms = sorted({t.lower() for t in query.terms()})
    want = spark.createDataFrame([(d,) for d in top_ids], "docid long")

    def f32(c):
        return c.cast("float").cast("double")

    texts = source_docs.select(
        F.col(id_col).cast("long").alias("docid"), F.col(text_col).alias("__text")
    ).join(F.broadcast(want), "docid", "left_semi")

    # per-(doc,term) importance from DOC-level stats (postings tf +
    # char length): the postings read prunes to the terms and k docs
    ttf = searcher.index.postings(terms, top_ids).select(
        "docid", "term", F.col("freq").alias("ttf")
    )
    num_docs = F.lit(1.0) + F.col("clen").cast("double") / F.lit(float(pivot))
    weight = f32(
        F.lit(float(k1 + 1.0))
        * F.log(
            F.lit(1.0)
            + (num_docs + F.lit(0.5)) / (F.col("ttf").cast("double") + F.lit(0.5))
        )
    )
    wtab = (
        texts.select("docid", F.length("__text").alias("clen"))
        .join(ttf, "docid")
        .select("docid", "term", weight.alias("w"))
    )
    wcols = (
        wtab.groupBy("docid")
        .agg(
            *[
                F.max(F.when(F.col("term") == t, F.col("w"))).alias(f"__w{i}")
                for i, t in enumerate(terms)
            ]
        )
    )

    sent = texts.select(
        "docid",
        F.posexplode(
            F.regexp_extract_all(F.col("__text"), F.lit(SENTENCE_PATTERN), F.lit(0))
        ).alias("snum", "passage"),
    )
    ow = (
        Window.partitionBy("docid")
        .orderBy("snum")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sent = sent.withColumn(
        "pstart", F.coalesce(F.sum(F.length("passage")).over(ow), F.lit(0)).cast("long")
    )
    toks = F.regexp_extract_all(F.lower("passage"), F.lit(TOKEN_PATTERN), F.lit(0))
    plen = F.length("passage").cast("double")
    tf_norm = F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * plen / F.lit(float(pivot))
    )
    for i, t in enumerate(terms):
        freq = F.size(F.filter(toks, lambda x: x == F.lit(t))).cast("double")
        sent = sent.withColumn(
            f"__tf{i}", f32(freq / (freq + tf_norm))
        ).withColumn(f"__n{i}", freq)
    norm = f32(
        F.lit(1.0)
        + F.lit(1.0) / F.log(F.lit(float(pivot)) + F.col("pstart").cast("double"))
    )
    scored = sent.join(F.broadcast(wcols), "docid")
    total = None
    any_hit = None
    for i in range(len(terms)):
        part = F.coalesce(F.col(f"__w{i}"), F.lit(0.0)) * F.col(f"__tf{i}")
        total = part if total is None else total + part
        hit = F.col(f"__n{i}") > 0
        any_hit = hit if any_hit is None else (any_hit | hit)
    scored = scored.where(any_hit).withColumn("score", f32(norm * total))
    rw = Window.partitionBy("docid").orderBy(
        F.col("score").desc(), F.col("pstart").asc()
    )
    return (
        scored.withColumn("passage_rank", F.row_number().over(rw).cast("long"))
        .where(F.col("passage_rank") <= max_passages)
        .select("docid", "passage_rank", "pstart", "score", "passage")
        .orderBy("docid", "passage_rank")
    )
