"""Search-quality evaluation — the Benchmark Quality module role
(reference ``src/Lucene.Net.Benchmark/Quality/QualityBenchmark.cs:32``
runs a set of judged queries and reports precision/recall-style
metrics; ``Quality/Trec/Trec1MQReader.cs`` supplies the judgments).

Given a query set and a graded judgment relation, computes per query:

- ``p_at_k``  — precision at k: |{top-k hits with rel > 0}| / k
- ``mrr``     — 1 / rank of the first relevant hit (0 when none)
- ``ndcg``    — DCG@k / IDCG@k with the standard gain
  ``(2^rel - 1) / log2(rank + 1)``; float32-truncated so the metric
  compares bit-stably across engines (the ratio's last ulp depends on
  libm otherwise)
- ``recall``  — |{top-k hits with rel > 0}| / |{judged relevant}|
  (``QualityStats.cs:200`` ``recall = numGoodPoints / maxGoodPoints``)
- ``avp``     — average precision: at each relevant hit at rank r,
  accumulate precision(r) = goodSoFar / r; divide by maxGoodPoints
  (``QualityStats.cs:178`` ``GetAvp``); float32-truncated like ndcg
  because the running-precision sum is order-of-addition sensitive
  in the last ulp

Shape: ranked results come from ``search_many`` (concurrent per-query
jobs over the shared cached scan); judgments join on (query_id,
docid); per-query aggregation is one hash agg. IDCG ranks judgments
inside each query's partition — judgment sets are human-sized, so the
window is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lucenenet_spark.search.queries import Query
from lucenenet_spark.search.searcher import IndexSearcher


def quality_metrics(
    searcher: IndexSearcher,
    queries: dict[str, Query],
    judgments: DataFrame,
    k: int = 10,
) -> DataFrame:
    """judgments: (query_id string, docid long, rel int >= 0).
    Returns (query_id, n_rel, p_at_k, mrr, ndcg, recall, avp)
    ordered by query_id."""
    ranked = searcher.search_many(queries, k)
    j = judgments.select(
        "query_id", F.col("docid").cast("long").alias("docid"),
        F.col("rel").cast("int").alias("rel"),
    )
    hits = ranked.join(j, ["query_id", "docid"], "left").select(
        "query_id",
        "rank",
        F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
    )
    gain = (F.pow(F.lit(2.0), F.col("rel").cast("double")) - F.lit(1.0)) / F.log2(
        F.col("rank").cast("double") + F.lit(1.0)
    )
    # Running count of relevant hits up to each rank — the GetAvp
    # accumulator (QualityStats.cs:96 numGoodPoints). Window is
    # bounded by k rows per query, never corpus-sized.
    rw = Window.partitionBy("query_id").orderBy("rank")
    hits = hits.withColumn(
        "good_so_far",
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).over(rw),
    )
    per_q = hits.groupBy("query_id").agg(
        (F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).cast("double") / F.lit(float(k))).alias("p_at_k"),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).cast("long").alias("n_good"),
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("first_rel"),
        F.sum(gain).alias("dcg"),
        F.sum(
            F.when(
                F.col("rel") > 0,
                F.col("good_so_far").cast("double") / F.col("rank").cast("double"),
            )
        ).alias("prec_sum"),
    )
    jw = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("docid").asc()
    )
    ideal = (
        j.withColumn("irank", F.row_number().over(jw))
        .where((F.col("irank") <= k) & (F.col("rel") > 0))
        .groupBy("query_id")
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col("rel").cast("double")) - F.lit(1.0))
                / F.log2(F.col("irank").cast("double") + F.lit(1.0))
            ).alias("idcg"),
            F.count(F.lit(1)).cast("long").alias("n_rel"),
        )
    )
    totals = (
        j.where(F.col("rel") > 0)
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("max_good"))
    )
    out = per_q.join(ideal, "query_id", "left").join(totals, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
        F.col("p_at_k"),
        F.when(
            F.col("first_rel").isNotNull(),
            F.lit(1.0) / F.col("first_rel").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("mrr"),
        F.when(
            F.col("idcg").isNotNull() & (F.col("idcg") > 0),
            (F.col("dcg") / F.col("idcg")).cast("float").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
        F.when(
            F.col("max_good").isNotNull() & (F.col("max_good") > 0),
            F.col("n_good").cast("double") / F.col("max_good").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("recall"),
        F.when(
            F.col("max_good").isNotNull()
            & (F.col("max_good") > 0)
            & F.col("prec_sum").isNotNull(),
            (F.col("prec_sum") / F.col("max_good").cast("double"))
            .cast("float")
            .cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("avp"),
    )
    return out.orderBy("query_id")


def quality_summary(per_query: DataFrame) -> DataFrame:
    """QualityStats.Average analog (``QualityStats.cs:253`` averages
    per-query stats into one summary row). MAP = mean avp. Means are
    float32-truncated: a mean over >2 queries is order-of-addition
    sensitive in the last ulp, and Spark's hash-agg partial order
    differs from the oracle's.
    Returns one row (n_queries, map, mean_p_at_k, mean_mrr,
    mean_ndcg, mean_recall)."""

    def f32(c):
        return F.avg(c).cast("float").cast("double")

    return per_query.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        f32("avp").alias("map"),
        f32("p_at_k").alias("mean_p_at_k"),
        f32("mrr").alias("mean_mrr"),
        f32("ndcg").alias("mean_ndcg"),
        f32("recall").alias("mean_recall"),
    )


def freq_judgments(
    searcher: IndexSearcher, terms: dict[str, str], cap: int = 3
) -> DataFrame:
    """Deterministic synthetic judgments for self-contained evaluation:
    for query_id -> term, ``rel = min(freq - 1, cap)`` (a doc that
    mentions the term once is retrieved-but-not-relevant; repeated
    mentions grade up). Mirrors exactly in SQL from token counts."""
    frames = []
    for qid, term in sorted(terms.items()):
        frames.append(
            searcher.index.postings([term]).select(
                F.lit(qid).alias("query_id"),
                "docid",
                F.least(F.col("freq") - 1, F.lit(cap)).cast("int").alias("rel"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
