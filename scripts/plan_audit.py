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
from lucenenet_spark.search.queries import (
    BooleanQuery,
    FuzzyQuery,
    Occur,
    PhraseQuery,
    TermQuery,
)
from lucenenet_spark.search.searcher import IndexSearcher
from lucenenet_spark.session import get_spark

EXCHANGE = re.compile(r"\bExchange\b")
PYTHON = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)\b")
SINGLE = re.compile(r"\bCoalesce 1\b")


def shapes(searcher: IndexSearcher) -> dict[str, tuple[str, int, int]]:
    """query -> (regime, exchanges, python nodes)."""
    qs = {
        "term_query": searcher.search_df(TermQuery(term="return"), 10),
        "bool_and": searcher.search_df(
            BooleanQuery.of(
                (TermQuery(term="return"), Occur.MUST),
                (TermQuery(term="value"), Occur.MUST),
            ),
            10,
        ),
        "phrase": searcher.search_df(
            PhraseQuery(phrase_terms=("return", "value")), 10
        ),
        "fuzzy_osa": searcher.search_df(FuzzyQuery(term="return"), 10),
        "span_near": sp.span_query(
            searcher,
            sp.SpanNearQuery(
                (sp.SpanTermQuery("return"), sp.SpanTermQuery("value")),
                slop=2,
                in_order=True,
            ),
        ),
    }
    out = {}
    for name, df in qs.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        regime = "single" if SINGLE.search(plan) else "parallel"
        out[name] = (regime, len(EXCHANGE.findall(plan)), len(PYTHON.findall(plan)))
    return out


def main() -> int:
    small_dir, big_dir = sys.argv[1], sys.argv[2]
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    searchers = [IndexSearcher(InvertedIndex.load(spark, d)) for d in (small_dir, big_dir)]
    small, big = (shapes(s) for s in searchers)
    for name in small:
        s, b = small[name], big[name]
        print(
            f"REGIME {name}: small({s[0]}, exchanges={s[1]}, python={s[2]}) "
            f"big({b[0]}, exchanges={b[1]}, python={b[2]})"
        )
    # the parallel plan on both scales: the counts must match
    postings.SINGLE_PARTITION_MAX_BLOCKS = -1
    small, big = (shapes(s) for s in searchers)
    rc = 0
    for name in small:
        s, b = small[name][1:], big[name][1:]
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
