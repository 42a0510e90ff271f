"""Plan-shape audit across scales: the number of Exchange and
Python-eval nodes in the physical plan of the headline query paths over
a small warehouse and a big one (the r4 verdict's sf1-soak
done-criterion: "no new Exchange/Python stage in the audited plans").

A query reads its posting blocks as one partition when its term stats
estimate few blocks (``postings.SINGLE_PARTITION_MAX_BLOCKS``), so the
same query can take the single-partition plan on the small warehouse
and the parallel plan on the big one, and its counts then differ by
design. The audit prints the regime each query took on each warehouse,
then compiles every query again with the parallel plan forced and
asserts those counts are identical across the two scales.

It also prints the driver's py4j round trips to compile each query
(``session.py4j_round_trips``): every JVM call the compile makes, the
driver side of a query's fixed cost.

For each warehouse it first prints the parquet layout of its
``segments/`` table (read with pyarrow, no Spark): the file count, the
row groups, and per row group the doc rows (``term`` NULL) against the
block rows and the row group's term range. A ``term IN`` or
``term IS NULL`` scan can skip a row group only by those statistics.

Catalyst chooses plans from statistics, so a shape that silently
degrades at 10x (e.g. a broadcast join flipping to SortMergeJoin with
an extra Exchange, or AQE inserting a re-partition) shows up there as a
node-count diff even when results stay correct.

Usage: python scripts/plan_audit.py <warehouse_small> <warehouse_big>
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucenenet_spark.index import postings
from lucenenet_spark.index.builder import InvertedIndex
from lucenenet_spark.search import spans as sp
from lucenenet_spark.search.flt import fuzzy_like_this_topk
from lucenenet_spark.search.queries import (
    BooleanQuery,
    DisjunctionMaxQuery,
    FuzzyQuery,
    Occur,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
)
from lucenenet_spark.search.searcher import IndexSearcher
from lucenenet_spark.session import get_spark, py4j_round_trips

EXCHANGE = re.compile(r"\bExchange\b")
PYTHON = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)\b")
SINGLE = re.compile(r"\bCoalesce 1\b")


def shapes(searcher: IndexSearcher) -> dict[str, tuple[str, int, int, int]]:
    """query -> (regime, exchanges, python nodes, compile round trips).
    Each query compiles twice and the second compile is counted, so the
    term-stats load of a searcher's first query is left out."""
    qs = {
        "term_query": lambda: searcher.search_df(TermQuery(term="return"), 10),
        "bool_and": lambda: searcher.search_df(
            BooleanQuery.of(
                (TermQuery(term="return"), Occur.MUST),
                (TermQuery(term="value"), Occur.MUST),
            ),
            10,
        ),
        "dismax": lambda: searcher.search_df(
            DisjunctionMaxQuery(
                disjuncts=(TermQuery(term="return"), TermQuery(term="value")),
                tie_breaker=0.1,
            ),
            10,
        ),
        "phrase": lambda: searcher.search_df(
            PhraseQuery(phrase_terms=("return", "value")), 10
        ),
        "fuzzy_osa": lambda: searcher.search_df(FuzzyQuery(term="return"), 10),
        "prefix": lambda: searcher.search_df(PrefixQuery(prefix="ret"), 10),
        "flt_topk": lambda: fuzzy_like_this_topk(searcher, "retrn valu", 0.4, 0, 10, 10),
        "span_near": lambda: sp.span_query(
            searcher,
            sp.SpanNearQuery(
                (sp.SpanTermQuery("return"), sp.SpanTermQuery("value")),
                slop=2,
                in_order=True,
            ),
        ),
    }
    out = {}
    for name, compile_ in qs.items():
        compile_()
        with py4j_round_trips() as n:
            df = compile_()
        plan = df._jdf.queryExecution().executedPlan().toString()
        regime = "single" if SINGLE.search(plan) else "parallel"
        out[name] = (regime, len(EXCHANGE.findall(plan)), len(PYTHON.findall(plan)), n[0])
    return out


def segment_layout(warehouse: str) -> list[str]:
    """The parquet layout of ``warehouse/segments``: a summary line, then
    one line per row group (doc rows, block rows, term min..max)."""
    import pyarrow.parquet as pq

    seg = os.path.join(warehouse, "segments")
    files = sorted(f for f in os.listdir(seg) if f.endswith(".parquet"))
    groups, n_docs, n_rows = [], 0, 0
    for name in files:
        meta = pq.ParquetFile(os.path.join(seg, name)).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            term = next(
                rg.column(c) for c in range(rg.num_columns)
                if rg.column(c).path_in_schema == "term"
            )
            st = term.statistics
            docs = st.null_count
            lo, hi = (st.min, st.max) if st.has_min_max else (None, None)
            groups.append(
                f"  {name[:10]} rg{g}: doc_rows={docs} block_rows={rg.num_rows - docs}"
                f" terms={lo!r}..{hi!r}"
            )
            n_docs += docs
            n_rows += rg.num_rows
    return [
        f"LAYOUT {warehouse}: segments/ files={len(files)} row_groups={len(groups)}"
        f" doc_rows={n_docs} block_rows={n_rows - n_docs}",
        *groups,
    ]


def main() -> int:
    small_dir, big_dir = sys.argv[1], sys.argv[2]
    for d in (small_dir, big_dir):
        print("\n".join(segment_layout(d)))
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    searchers = [IndexSearcher(InvertedIndex.load(spark, d)) for d in (small_dir, big_dir)]
    small, big = (shapes(s) for s in searchers)
    for name in small:
        s, b = small[name], big[name]
        print(
            f"REGIME {name}: small({s[0]}, exchanges={s[1]}, python={s[2]}, "
            f"py4j={s[3]}) big({b[0]}, exchanges={b[1]}, python={b[2]}, py4j={b[3]})"
        )
    # the parallel plan on both scales: the counts must match
    postings.SINGLE_PARTITION_MAX_BLOCKS = -1
    small, big = (shapes(s) for s in searchers)
    rc = 0
    for name in small:
        s, b = small[name][1:3], big[name][1:3]
        if s != b:
            rc = 1
        print(
            f"{'SAME' if s == b else 'DIFF'} {name} (parallel): "
            f"small(exchanges={s[0]}, python={s[1]}) big(exchanges={b[0]}, python={b[1]})"
        )
    print(
        "PARALLEL PLAN SHAPES IDENTICAL ACROSS SCALES" if rc == 0 else "PLAN SHAPE DRIFT"
    )
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
