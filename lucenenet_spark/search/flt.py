"""FuzzyLikeThisQuery — the Sandbox fuzzy-MLT hybrid
(``Lucene.Net.Sandbox/Queries/FuzzyLikeThisQuery.cs:47``): analyze a
query string, fuzz each distinct token against the dictionary, rank
the variants by edit similarity × the SOURCE term's IDF (so
misspellings don't get rarer-is-better boosts), keep the global top
``max_num_terms``, and score docs as a SHOULD-of-variants boolean.

Pinned spec (documented deltas from the reference):

- ``ignoreTF`` is pinned True (a reference constructor mode,
  ``FuzzyLikeThisQuery.cs:321`` ConstantScoreQuery branch): a matching
  variant contributes exactly its boost — so scores are reproducible
  in closed form without DefaultSimilarity's tf/queryNorm plumbing.
- Variant acceptance: SlowFuzzyTermsEnum similarity
  ``1 - dist/min(len(source), len(variant))`` must be STRICTLY greater
  than ``min_similarity``; ``prefix_length`` chars must match exactly.
- Boost math, float32 op-for-op with the C# float expressions:
  ``sim32 = f32(1 - f32(dist)/f32(minlen))``;
  ``idf32 = f32(ln(numDocs/(df+1)) + 1)`` (DefaultSimilarity.Idf,
  double inside, float result); ``boost = f32(f32(sim*sim) * idf)``.
- ``df`` is the source term's; when the source term is not in the
  dictionary, the INTEGER average of the variant dfs
  (``totalVariantDocFreqs / numVariants``, C# int division, ``:249``).
- Per-source variant cap 50 (``MAX_VARIANTS_PER_TERM``), by sim desc
  then term asc (the reference PQ breaks ties arbitrarily; pinned).
- Global cap ``max_num_terms`` by boost desc then term asc then source
  order; the surviving clause order IS the float32 summation order.

Scale shape: expansion is driver-side vectorized pandas over the
cached dictionary (the multi-term expansion path); doc scoring is the
variants' clause plan on the term-family reader
(``postings.score_blocks`` with no similarity: ONE packed scan with
``term IN (variants)`` parquet pushdown, docids only — no freqs, norms
or positions — each row carrying its clause's boost), then the
boolean clause-order float32 fold per doc, the searcher's tombstones
anti-joined, and a bounded TakeOrdered. The scan takes the searcher's
plan regime: a small variant set reads as one partition and folds
without an exchange; otherwise no shuffle is wider than the
|variants|-bounded (docid, cidx) frame.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucenenet_spark.analysis.analyzer import analyze
from lucenenet_spark.index.postings import drop_deleted, score_blocks
from lucenenet_spark.search.queries import _levenshtein
from lucenenet_spark.search.searcher import combine_boolean_frames

MAX_VARIANTS_PER_TERM = 50


def _fuzzy_variants(
    searcher,
    source_terms: list[str],
    min_similarity: float,
    prefix_length: int,
) -> "list[tuple[str, float, int]]":
    """[(variant, boost, source_idx)] — the Rewrite's global scored
    term set, in the pinned clause order."""
    stats = searcher._stats_map()
    if stats is False:
        rows = searcher.index.term_stats.select("term", "df").collect()
        stats = {r["term"]: (int(r["df"]), 0) for r in rows}
    terms = pd.Series(sorted(stats), dtype="object")
    num_docs = searcher.index.max_doc
    out: list[tuple[str, float, int, str]] = []
    for sidx, s in enumerate(source_terms):
        cand = terms
        if prefix_length > 0:
            cand = cand[cand.str.slice(0, prefix_length) == s[:prefix_length]]
        if len(cand) == 0:
            continue
        lens = cand.str.len().to_numpy(dtype=np.float32)
        dists = np.array([_levenshtein(t, s) for t in cand], dtype=np.float32)
        minlen = np.minimum(lens, np.float32(len(s)))
        sims = (np.float32(1.0) - dists / minlen).astype(np.float32)
        keep = sims > np.float32(min_similarity)
        if not keep.any():
            continue
        kept = sorted(
            zip(cand[keep].tolist(), sims[keep].tolist()),
            key=lambda p: (-p[1], p[0]),
        )[:MAX_VARIANTS_PER_TERM]
        df_s = stats.get(s, (0, 0))[0]
        if df_s == 0:
            vdfs = [stats[t][0] for t, _ in kept]
            df_s = sum(vdfs) // len(vdfs)  # C# int division (:249)
        idf = np.float32(math.log(num_docs / float(df_s + 1)) + 1.0)
        for t, sim in kept:
            sim32 = np.float32(sim)
            boost = np.float32(np.float32(sim32 * sim32) * idf)
            out.append((t, float(boost), sidx, t))
    # global queue: boost desc, variant asc, source order — pinned
    out.sort(key=lambda r: (-r[1], r[3], r[2]))
    return [(t, b, i) for t, b, i, _ in out]


def fuzzy_like_this_terms(
    searcher,
    query_string: str,
    min_similarity: float = 0.5,
    prefix_length: int = 0,
    max_num_terms: int = 50,
) -> DataFrame:
    """The rewrite product as rows: (cidx, variant, boost:double) —
    the reference's rewritten BooleanQuery clause list."""
    src = list(dict.fromkeys(t for t, _ in analyze(query_string)))
    rows = _fuzzy_variants(searcher, src, min_similarity, prefix_length)[
        :max_num_terms
    ]
    spark = searcher.index.docs.sparkSession
    return spark.createDataFrame(
        [(i, t, float(b)) for i, (t, b, _) in enumerate(rows)],
        "cidx long, variant string, boost double",
    )


def fuzzy_like_this_topk(
    searcher,
    query_string: str,
    min_similarity: float = 0.5,
    prefix_length: int = 0,
    max_num_terms: int = 50,
    k: int = 10,
) -> DataFrame:
    """Top-k (docid, score:float32): Σ boosts of the doc's matching
    variants, float32-folded in clause order; deleted docs never
    surface."""
    src = list(dict.fromkeys(t for t, _ in analyze(query_string)))
    variants = _fuzzy_variants(searcher, src, min_similarity, prefix_length)[
        :max_num_terms
    ]
    if not variants:
        return searcher._empty()
    # every variant is a SHOULD clause scoring its boost (ignoreTF);
    # the boolean fold's 1.0f boost multiply is exact
    plan: dict[str, list[tuple[int, int, float]]] = {}
    for cidx, (t, b, _) in enumerate(variants):
        plan.setdefault(t, []).append((cidx, 0, b))
    blocks = searcher._blocks(plan, searcher._term_stats(plan))
    scored = combine_boolean_frames(score_blocks(blocks, plan, None), 0, 1, 1.0)
    return (
        drop_deleted(scored, searcher.tombstones)
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )
