"""Payload scoring — PayloadTermQuery + payload functions (reference
``Search/Payloads/PayloadTermQuery.cs:43``, ``AveragePayloadFunction.cs``,
``MinPayloadFunction.cs``, ``MaxPayloadFunction.cs``; payload bytes are
float32 via ``PayloadHelper.EncodeSingle``).

score(doc) = spanScore(doc) * payloadFactor(doc)          (default)
           = payloadFactor(doc)                (include_span_score=False)

with spanScore = the similarity's term score (our unit-span term query
== the reference's SpanTermQuery scorer over the same stats) and
payloadFactor = avg | min | max over the doc's payloads for the term:
avg = f32(f32-ordered-sum / count) (AveragePayloadFunction.DocScore),
min/max exact.

One packed scan filtered to the query term BEFORE the unpack barrier
(same plan shape as the term scorer), payload decode + similarity math
in a single Arrow stage, native TakeOrdered top-k.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from lucenenet_spark.functions.bm25 import float32_ordered_sum

_OUT = T.StructType(
    [
        T.StructField("docid", T.LongType()),
        T.StructField("score", T.FloatType()),
    ]
)


def _payload_factor(payloads, fn: str) -> np.float32:
    a = np.asarray(payloads, dtype=np.float32)
    if a.size == 0:
        return np.float32(1.0)
    if fn == "avg":
        return np.float32(float32_ordered_sum(a) / np.float32(a.size))
    if fn == "min":
        return np.float32(a.min())
    if fn == "max":
        return np.float32(a.max())
    raise ValueError(f"unknown payload function: {fn}")


def payload_term_query(
    searcher,
    term: str,
    k: int | None = 10,
    fn: str = "avg",
    include_span_score: bool = True,
) -> DataFrame:
    """PayloadTermQuery analog → (docid, score float32) top-k."""
    m = searcher._stats_map()
    if m is False:
        rows = searcher.index.term_stats.where(F.col("term") == term).collect()
        stats = {r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows}
    else:
        stats = {term: m[term]} if term in m else {}
    if term not in stats:
        return searcher.index.docs.sparkSession.createDataFrame([], _OUT)
    df_, ttf_ = stats[term]
    sim = searcher.sim
    weight = sim.weight(
        df_, searcher.index.max_doc, 1.0,
        ttf=ttf_, sttf=searcher.index.sum_total_term_freq,
    )
    src = searcher.index.postings([term], payloads=True).select(
        "docid", "freq", "norm", "payloads"
    )

    def gen(iterator):
        for pdf in iterator:
            f = pdf["freq"].to_numpy(dtype=np.float32)
            nb = pdf["norm"].to_numpy(dtype=np.uint8)
            base = (
                sim.score(f, nb, weight)
                if include_span_score
                else np.ones(len(pdf), dtype=np.float32)
            )
            pay = np.array(
                [_payload_factor(p, fn) for p in pdf["payloads"]],
                dtype=np.float32,
            )
            yield pd.DataFrame(
                {"docid": pdf["docid"], "score": (base * pay).astype(np.float32)}
            )

    scored = src.mapInPandas(gen, schema=_OUT)
    if searcher.tombstones is not None:
        scored = scored.join(searcher.tombstones, "docid", "left_anti")
    if k is None:
        return scored
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


def payload_near_query(
    searcher,
    first: str,
    second: str,
    slop: int = 0,
    k: int | None = 10,
    fn: str = "avg",
) -> DataFrame:
    """PayloadNearQuery analog (``Search/Payloads/PayloadNearQuery.cs:44``,
    2-clause ordered form, pinned): spans enumerate exactly like the
    scored 2-term ordered SpanNear (greedy minimal-end chain,
    spans.py), spanScore = sim.score(Σ f32 1/(1+matchLength), norm,
    weight_multi), and the payload factor folds the payloads of EVERY
    position inside each matching span — span order, first-clause then
    second-clause within a span (PayloadNearQuery.ProcessPayloads
    accumulation order). score = spanScore * factor.

    One packed scan filtered to both terms before the unpack barrier;
    per-doc numpy enumeration in a single Arrow stage.
    """
    terms = sorted({first, second})
    m = searcher._stats_map()
    if m is False:
        rows = searcher.index.term_stats.where(F.col("term").isin(terms)).collect()
        stats = {r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows}
    else:
        stats = {t: m[t] for t in terms if t in m}
    sim = searcher.sim
    w = sim.weight_multi(
        [stats.get(t, (0, 0))[0] for t in terms], searcher.index.max_doc, 1.0
    )
    wf = float(w)
    src = searcher.index.postings([first, second], payloads=True).select(
        "docid", "term", "positions", "norm", "payloads"
    )
    grouped = src.groupBy("docid").agg(
        F.collect_list(F.struct("term", "positions", "payloads")).alias("tp"),
        F.first("norm").alias("norm"),
    )

    @F.pandas_udf("float")
    def score_spans(tp: pd.Series, norm: pd.Series) -> pd.Series:
        w32 = np.float32(wf)
        freqs = np.zeros(len(tp), dtype=np.float32)
        factors = np.ones(len(tp), dtype=np.float32)
        for i, lst in enumerate(tp):
            pos = {}
            pay = {}
            for item in lst:
                pos[item["term"]] = np.asarray(item["positions"], dtype=np.int64)
                pay[item["term"]] = np.asarray(item["payloads"], dtype=np.float32)
            p0s, p1s = pos.get(first), pos.get(second)
            if p0s is None or p1s is None:
                freqs[i] = 0.0
                continue
            acc = np.float32(0.0)
            collected: list[np.float32] = []
            # greedy minimal-end chain per start (NearSpansOrdered for
            # unit spans), same spec as spans._enumerate
            j1 = np.searchsorted(p1s, p0s, side="right")
            for a, j in zip(p0s, j1):
                if j >= len(p1s):
                    continue
                b = p1s[j]
                if b - a - 1 <= slop:
                    acc = np.float32(
                        acc + np.float32(1.0) / np.float32(1 + (b + 1 - a))
                    )
                    ia = int(np.searchsorted(p0s, a))
                    collected.append(pay[first][ia])
                    collected.append(pay[second][int(j)])
            freqs[i] = acc
            if collected:
                factors[i] = _payload_factor(
                    np.asarray(collected, dtype=np.float32), fn
                )
        s = sim.score(freqs, norm.to_numpy(dtype=np.uint8), w32)
        s = (s * factors).astype(np.float32)
        return pd.Series(np.where(freqs > 0, s, np.nan).astype(np.float32))

    scored = grouped.select(
        "docid", score_spans(F.col("tp"), F.col("norm")).alias("score")
    ).where(F.col("score").isNotNull() & ~F.isnan(F.col("score")))
    if searcher.tombstones is not None:
        scored = scored.join(searcher.tombstones, "docid", "left_anti")
    out = scored.orderBy(F.col("score").desc(), F.col("docid").asc())
    return out.limit(k) if k is not None else out


_SPANS_OUT = T.StructType(
    [
        T.StructField("docid", T.LongType()),
        T.StructField("n_spans", T.LongType()),
    ]
)


def span_payload_check(
    searcher, term: str, payload: float
) -> DataFrame:
    """SpanPayloadCheckQuery over a unit term span
    (``Search/Spans/SpanPayloadCheckQuery.cs:36``): positions whose
    payload equals the required value → (docid, n_spans)."""
    src = searcher.index.postings([term], payloads=True).select(
        "docid", "payloads"
    )
    want = float(np.float32(payload))

    def gen(iterator):
        for pdf in iterator:
            n = np.array(
                [
                    int((np.asarray(p, dtype=np.float32) == np.float32(want)).sum())
                    for p in pdf["payloads"]
                ],
                dtype=np.int64,
            )
            out = pd.DataFrame({"docid": pdf["docid"], "n_spans": n})
            yield out[out["n_spans"] > 0]

    scored = src.mapInPandas(gen, schema=_SPANS_OUT)
    if searcher.tombstones is not None:
        scored = scored.join(searcher.tombstones, "docid", "left_anti")
    return scored


def span_near_payload_check(
    searcher, first: str, second: str, slop: int, payloads: tuple[float, float]
) -> DataFrame:
    """SpanNearPayloadCheckQuery (``Search/Spans/
    SpanNearPayloadCheckQuery.cs:36``, 2-clause ordered pinned form):
    greedy-chain near spans whose (first, second) payload pair equals
    the required sequence → (docid, n_spans)."""
    v0 = np.float32(payloads[0])
    v1 = np.float32(payloads[1])
    src = searcher.index.postings([first, second], payloads=True).select(
        "docid", "term", "positions", "payloads"
    )
    grouped = src.groupBy("docid").agg(
        F.collect_list(F.struct("term", "positions", "payloads")).alias("tp")
    )

    def gen(iterator):
        for pdf in iterator:
            docids, counts = [], []
            for docid, lst in zip(pdf["docid"], pdf["tp"]):
                pos, pay = {}, {}
                for item in lst:
                    pos[item["term"]] = np.asarray(item["positions"], dtype=np.int64)
                    pay[item["term"]] = np.asarray(item["payloads"], dtype=np.float32)
                p0s, p1s = pos.get(first), pos.get(second)
                if p0s is None or p1s is None:
                    continue
                n = 0
                j1 = np.searchsorted(p1s, p0s, side="right")
                for a, j in zip(p0s, j1):
                    if j >= len(p1s):
                        continue
                    b = p1s[j]
                    if b - a - 1 <= slop:
                        ia = int(np.searchsorted(p0s, a))
                        if pay[first][ia] == v0 and pay[second][int(j)] == v1:
                            n += 1
                if n:
                    docids.append(docid)
                    counts.append(n)
            yield pd.DataFrame(
                {"docid": pd.array(docids, dtype="int64"),
                 "n_spans": pd.array(counts, dtype="int64")}
            )

    scored = grouped.mapInPandas(gen, schema=_SPANS_OUT)
    if searcher.tombstones is not None:
        scored = scored.join(searcher.tombstones, "docid", "left_anti")
    return scored
