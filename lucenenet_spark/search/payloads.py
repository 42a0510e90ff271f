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

Every payload query runs on the span plan (``spans._bucket_span_eval``;
one regime decision, one tombstone anti-join): the single-term ones
with the slot ``[[term]]``, the near ones with a payload hook. Its
bucket kernel gathers each position's payload with its key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from lucenenet_spark.functions.bm25 import float32_ordered_sum
from lucenenet_spark.index.postings import KEY_SHIFT, bucket_positions
from lucenenet_spark.search.spans import (
    _EMPTY_COUNTS,
    _EMPTY_SCORED,
    _bucket_span_eval,
    _ordered_pairs,
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


def _payload_term_bucket(
    pdf: pd.DataFrame, term: str, fn: str, sim, weight, include_span_score: bool
) -> pd.DataFrame:
    """PayloadTermQuery matcher for one bucket group -> (docid, score):
    freq = the doc's position count, factor over its payloads in
    position order."""
    bp = bucket_positions(pdf, [[term]])
    if bp is None:
        return _EMPTY_SCORED
    keys, pay = bp.keys[term], bp.payloads[term]
    docs, lo, freq = np.unique(keys >> KEY_SHIFT, return_index=True, return_counts=True)
    hi = lo + freq
    base = (
        sim.score(freq.astype(np.float32), bp.norms, weight)
        if include_span_score
        else np.ones(docs.size, dtype=np.float32)
    )
    factor = np.array(
        [_payload_factor(pay[x:y], fn) for x, y in zip(lo, hi)], dtype=np.float32
    )
    return pd.DataFrame(
        {"docid": docs + bp.base, "score": (base * factor).astype(np.float32)}
    )


def payload_term_query(
    searcher,
    term: str,
    k: int | None = 10,
    fn: str = "avg",
    include_span_score: bool = True,
) -> DataFrame:
    """PayloadTermQuery analog → (docid, score float32) top-k, on the
    span plan with the one slot ``[[term]]``."""
    stats = searcher._term_stats([term])
    if term not in stats:
        return searcher.index.docs.sparkSession.createDataFrame([], "docid long, score float")
    df_, ttf_ = stats[term]
    sim = searcher.sim
    weight = sim.weight(
        df_, searcher.index.max_doc, 1.0,
        ttf=ttf_, sttf=searcher.index.sum_total_term_freq,
    )
    scored = _bucket_span_eval(
        searcher, [term], stats,
        lambda pdf: _payload_term_bucket(pdf, term, fn, sim, weight, include_span_score),
        "docid long, score float",
        payloads=True,
    )
    if k is None:
        return scored
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


def _near_spans(pdf: pd.DataFrame, first: str, second: str, slop: int):
    """The ordered ``first``→``second`` near spans of one bucket group,
    in (doc, start) order: ``(bp, i1, i2)`` with ``i1``/``i2`` indexing
    each span's first- and second-clause keys (and payloads) in
    ``bp``; None when the bucket holds no span."""
    bp = bucket_positions(pdf, [[first], [second]])
    if bp is None:
        return None
    valid, nxt = _ordered_pairs(bp.keys[first], bp.keys[second], slop)
    if not valid.any():
        return None
    return bp, np.flatnonzero(valid), nxt[valid]


def _payload_near_bucket(
    pdf: pd.DataFrame, first: str, second: str, slop: int, fn: str, sim, w32
) -> pd.DataFrame:
    """PayloadNearQuery matcher for one bucket group -> (docid, score)."""
    near = _near_spans(pdf, first, second, slop)
    if near is None:
        return _EMPTY_SCORED
    bp, i1, i2 = near
    a, b = bp.keys[first][i1], bp.keys[second][i2]
    # per span 1/(1 + matchLength), matchLength = b + 1 - a
    inc = np.float32(1.0) / (1 + (b + 1 - a)).astype(np.float32)
    pay = np.empty(2 * a.size, dtype=np.float32)
    pay[0::2] = bp.payloads[first][i1]
    pay[1::2] = bp.payloads[second][i2]
    docs, lo = np.unique(a >> KEY_SHIFT, return_index=True)
    hi = np.append(lo[1:], a.size)
    freq = np.array(
        [float32_ordered_sum(inc[x:y]) for x, y in zip(lo, hi)], dtype=np.float32
    )
    factor = np.array(
        [_payload_factor(pay[2 * x:2 * y], fn) for x, y in zip(lo, hi)],
        dtype=np.float32,
    )
    norms = bp.norms[np.searchsorted(bp.cand, docs)]
    score = (sim.score(freq, norms, w32) * factor).astype(np.float32)
    keep = ~np.isnan(score)
    return pd.DataFrame({"docid": docs[keep] + bp.base, "score": score[keep]})


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

    Runs on the span plan with payloads: a vectorized near walk per
    bucket, then an ordered float32 fold per matching doc."""
    terms = sorted({first, second})
    stats = searcher._term_stats(terms)
    dfs = [stats.get(t, (0, 0))[0] for t in terms]
    sim = searcher.sim
    w32 = np.float32(sim.weight_multi(dfs, searcher.index.max_doc, 1.0))
    scored = _bucket_span_eval(
        searcher, terms, stats,
        lambda pdf: _payload_near_bucket(pdf, first, second, slop, fn, sim, w32),
        "docid long, score float",
        payloads=True,
    )
    out = scored.orderBy(F.col("score").desc(), F.col("docid").asc())
    return out.limit(k) if k is not None else out


def _payload_check_bucket(pdf: pd.DataFrame, term: str, want) -> pd.DataFrame:
    """SpanPayloadCheckQuery matcher for one bucket group ->
    (docid, n_spans): the term's positions whose payload is ``want``."""
    bp = bucket_positions(pdf, [[term]])
    if bp is None:
        return _EMPTY_COUNTS
    keys = bp.keys[term][bp.payloads[term] == want]
    docs, n = np.unique(keys >> KEY_SHIFT, return_counts=True)
    return pd.DataFrame({"docid": docs + bp.base, "n_spans": n.astype(np.int64)})


def span_payload_check(
    searcher, term: str, payload: float
) -> DataFrame:
    """SpanPayloadCheckQuery over a unit term span
    (``Search/Spans/SpanPayloadCheckQuery.cs:36``): positions whose
    payload equals the required value → (docid, n_spans), on the span
    plan with the one slot ``[[term]]``."""
    want = np.float32(payload)
    return _bucket_span_eval(
        searcher, [term], searcher._term_stats([term]),
        lambda pdf: _payload_check_bucket(pdf, term, want),
        "docid long, n_spans long",
        payloads=True,
    )


def _near_payload_check_bucket(
    pdf: pd.DataFrame, first: str, second: str, slop: int, want
) -> pd.DataFrame:
    """SpanNearPayloadCheckQuery matcher for one bucket group ->
    (docid, n_spans): near spans whose payload pair equals ``want``."""
    near = _near_spans(pdf, first, second, slop)
    if near is None:
        return _EMPTY_COUNTS
    bp, i1, i2 = near
    ok = (bp.payloads[first][i1] == want[0]) & (bp.payloads[second][i2] == want[1])
    docs, n = np.unique(bp.keys[first][i1[ok]] >> KEY_SHIFT, return_counts=True)
    return pd.DataFrame({"docid": docs + bp.base, "n_spans": n.astype(np.int64)})


def span_near_payload_check(
    searcher, first: str, second: str, slop: int, payloads: tuple[float, float]
) -> DataFrame:
    """SpanNearPayloadCheckQuery (``Search/Spans/
    SpanNearPayloadCheckQuery.cs:36``, 2-clause ordered pinned form):
    greedy-chain near spans whose (first, second) payload pair equals
    the required sequence → (docid, n_spans). Runs on the span plan
    (``spans._bucket_span_eval``) with payloads, vectorized per
    bucket."""
    want = (np.float32(payloads[0]), np.float32(payloads[1]))
    terms = [first, second]
    return _bucket_span_eval(
        searcher, terms, searcher._term_stats(terms),
        lambda pdf: _near_payload_check_bucket(pdf, first, second, slop, want),
        "docid long, n_spans long",
        payloads=True,
    )
