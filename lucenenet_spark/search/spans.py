"""Span query family (SURVEY.md §2.9; reference ``Search/Spans/``).

Mirrors the *semantics* of SpanTermQuery (``SpanTermQuery.cs``),
N-clause ordered SpanNearQuery (``SpanNearQuery.cs:40``,
``NearSpansOrdered.cs``), SpanOrQuery (``SpanOrQuery.cs:37``),
SpanNotQuery (``SpanNotQuery.cs``), SpanFirstQuery
(``SpanFirstQuery.cs``) and SpanMultiTermQueryWrapper
(``SpanMultiTermQueryWrapper.cs``) — with a *pinned deterministic
span-count spec* (documented per node below) instead of the
reference's lazy iterator enumeration, so the result is
SQL-oracle-mirrorable.

Physical shape — the phrase scorer's, on the shared bucketed
positional kernel (``index/postings.py``): ONE packed scan filtered to
all involved terms (parquet ``term IN`` pushdown), one shuffle of the
still-compressed blocks by docid bucket, then a per-doc span
enumeration inside the bucket group. A doc's span math is tiny (its
own positions only). Output: ``(docid, n_spans)`` for docs with >= 1
surviving span.

Pinned span spec (what ``n_spans`` counts):

- **SpanTerm t** — one unit span ``[p, p+1)`` per position.
- **SpanOr** — the multiset union of clause spans (sorted).
- **SpanNear ordered** — for each span of clause 1, the GREEDY chain:
  each next clause takes its minimal span starting at/after the
  previous clause's end. A chain with total gap
  ``(end_N - start_1) - Σ len_i <= slop`` yields ONE span
  ``[start_1, end_N)``. Greedy minimizes ``end_N`` over all in-order
  chains from that start, so "greedy chain fits" ⇔ "some chain fits"
  — each start is counted iff any valid chain exists (the per-start
  counting matches the two-term case shipped in round 2).
- **SpanNear unordered** — 2 clauses: one span per left-clause span
  paired with any right span within slop either side (exact match
  set). N clauses: the pinned EXISTS-window spec — one span per
  first-clause anchor for which some choice of one span per remaining
  clause (pairwise distinct) has total gap <= slop; emitted span =
  the feasible combination minimizing (width, lo, hi). The
  reference's NearSpansUnordered queue walk agrees on the match SET;
  span multiplicity around shared positions is iterator-order-defined
  there and per-anchor here (documented divergence).
- **SpanNot(include, exclude)** — include spans overlapping NO
  exclude span (overlap = ``e.start < s.end and e.end > s.start``).
- **SpanFirst(match, end)** — match spans with ``span.end <= end``.
- **SpanPositionRange(match, start, end)** — spans with
  ``start <= span.start`` and ``span.end <= end``.
- **SpanMulti(wrapped)** — SpanOr over the dictionary expansion of a
  MultiTermQuery (prefix/wildcard/fuzzy/regexp/range).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucenenet_spark.index.postings import (
    KEY_SHIFT,
    bucket_positions,
    drop_deleted,
    positional_groups,
    single_partition,
)
from lucenenet_spark.search.queries import MultiTermQuery


@dataclass(frozen=True)
class SpanQuery:
    def terms(self) -> list[str]:
        raise NotImplementedError


@dataclass(frozen=True)
class SpanTermQuery(SpanQuery):
    term: str = ""

    def terms(self) -> list[str]:
        return [self.term]


@dataclass(frozen=True)
class SpanNearQuery(SpanQuery):
    clauses: tuple[SpanQuery, ...] = ()
    slop: int = 0
    in_order: bool = True

    def terms(self) -> list[str]:
        return [t for c in self.clauses for t in c.terms()]


@dataclass(frozen=True)
class SpanOrQuery(SpanQuery):
    clauses: tuple[SpanQuery, ...] = ()

    def terms(self) -> list[str]:
        return [t for c in self.clauses for t in c.terms()]


@dataclass(frozen=True)
class SpanNotQuery(SpanQuery):
    include: SpanQuery = None  # type: ignore[assignment]
    exclude: SpanQuery = None  # type: ignore[assignment]

    def terms(self) -> list[str]:
        return self.include.terms() + self.exclude.terms()


@dataclass(frozen=True)
class SpanFirstQuery(SpanQuery):
    match: SpanQuery = None  # type: ignore[assignment]
    end: int = 0

    def terms(self) -> list[str]:
        return self.match.terms()


@dataclass(frozen=True)
class SpanPositionRangeQuery(SpanQuery):
    """SpanPositionRangeQuery (``Search/Spans/SpanPositionRangeQuery.cs:33``):
    match spans entirely inside [start, end) — ``span.start >= start``
    and ``span.end <= end``. SpanFirstQuery is the start=0 special
    case (``SpanFirstQuery.cs:38`` extends this)."""

    match: SpanQuery = None  # type: ignore[assignment]
    start: int = 0
    end: int = 0

    def terms(self) -> list[str]:
        return self.match.terms()


@dataclass(frozen=True)
class SpanMultiTermQuery(SpanQuery):
    """SpanMultiTermQueryWrapper: expanded against the dictionary in
    :func:`span_query` (driver-side, like IndexSearcher._expand)."""

    wrapped: MultiTermQuery = None  # type: ignore[assignment]

    def terms(self) -> list[str]:  # unknown until expansion
        return []


# ------------------------------------------------------- enumeration

def _enumerate(q: SpanQuery, posmap: dict[str, np.ndarray]) -> np.ndarray:
    """Spans of ``q`` in one document -> int64 array [[start, end)...],
    sorted by (start, end). Positions arrays in ``posmap`` are sorted."""
    if isinstance(q, SpanTermQuery):
        p = posmap.get(q.term)
        if p is None or p.size == 0:
            return np.empty((0, 2), dtype=np.int64)
        return np.stack([p, p + 1], axis=1)
    if isinstance(q, SpanOrQuery):
        parts = [_enumerate(c, posmap) for c in q.clauses]
        parts = [s for s in parts if s.size]
        if not parts:
            return np.empty((0, 2), dtype=np.int64)
        allspans = np.concatenate(parts)
        order = np.lexsort((allspans[:, 1], allspans[:, 0]))
        return allspans[order]
    if isinstance(q, SpanNearQuery):
        subs = [_enumerate(c, posmap) for c in q.clauses]
        if any(s.size == 0 for s in subs):
            return np.empty((0, 2), dtype=np.int64)
        if not q.in_order:
            if len(subs) == 2:
                a, b = subs
                out = []
                for s0, e0 in a:
                    # any b-span within slop on either side, not identical
                    gap_after = b[:, 0] - e0  # b after a
                    gap_before = s0 - b[:, 1]  # b before a
                    ok = (
                        ((gap_after >= 0) & (gap_after <= q.slop))
                        | ((gap_before >= 0) & (gap_before <= q.slop))
                    ) & ~((b[:, 0] == s0) & (b[:, 1] == e0))
                    if ok.any():
                        bs, be = b[ok][0]
                        out.append((min(s0, bs), max(e0, be)))
                return _sorted_spans(out)
            # N-clause unordered, pinned EXISTS-window spec: one span
            # per FIRST-clause anchor span for which SOME choice of
            # one span per remaining clause (all pairwise distinct)
            # gives total gap (window width - Σ clause lengths)
            # <= slop — for unit spans: max(p) - min(p) - (N-1)
            # <= slop, the natural unordered-near membership test and
            # a direct EXISTS in the SQL oracle. The emitted span is
            # the feasible combination minimizing (width, lo, hi) —
            # deterministic. Exact search over the cartesian product
            # of the remaining clauses' spans: per-doc span counts
            # are document-local, so the product is tiny.
            from itertools import product

            first, rest = subs[0], subs[1:]
            out = []
            rest_lists = [list(map(tuple, sub)) for sub in rest]
            for s0, e0 in first:
                anchor = (int(s0), int(e0))
                best = None
                for combo in product(*rest_lists):
                    chosen = (anchor,) + combo
                    if len(set(chosen)) != len(chosen):
                        continue  # clauses must match distinct spans
                    lo = min(c[0] for c in chosen)
                    hi = max(c[1] for c in chosen)
                    lens = sum(c[1] - c[0] for c in chosen)
                    if (hi - lo) - lens <= q.slop:
                        key = (hi - lo, lo, hi)
                        if best is None or key < best:
                            best = key
                if best is not None:
                    out.append((best[1], best[2]))
            return _sorted_spans(out)
        # ordered: greedy minimal-END chain per first-clause span (for
        # unit-span clauses min-end == min-start, so this is exactly
        # the two-term per-start spec; for composite clauses min-end
        # maximizes feasibility of the remaining chain and is the
        # pinned deterministic choice)
        out = []
        for s0, e0 in subs[0]:
            cur_end = e0
            lens = e0 - s0
            ok = True
            for sub in subs[1:]:
                cand = sub[sub[:, 0] >= cur_end]
                if cand.size == 0:
                    ok = False
                    break
                j = int(np.argmin(cand[:, 1]))
                ns, ne = cand[j]
                lens += ne - ns
                cur_end = ne
            if ok and (cur_end - s0) - lens <= q.slop:
                out.append((s0, cur_end))
        return _sorted_spans(out)
    if isinstance(q, SpanNotQuery):
        inc = _enumerate(q.include, posmap)
        if inc.size == 0:
            return inc
        exc = _enumerate(q.exclude, posmap)
        if exc.size == 0:
            return inc
        keep = []
        for s, e in inc:
            if not np.any((exc[:, 0] < e) & (exc[:, 1] > s)):
                keep.append((s, e))
        return _sorted_spans(keep)
    if isinstance(q, SpanFirstQuery):
        sub = _enumerate(q.match, posmap)
        if sub.size == 0:
            return sub
        return sub[sub[:, 1] <= q.end]
    if isinstance(q, SpanPositionRangeQuery):
        sub = _enumerate(q.match, posmap)
        if sub.size == 0:
            return sub
        return sub[(sub[:, 0] >= q.start) & (sub[:, 1] <= q.end)]
    raise NotImplementedError(type(q).__name__)


def _sorted_spans(pairs: list[tuple[int, int]]) -> np.ndarray:
    if not pairs:
        return np.empty((0, 2), dtype=np.int64)
    arr = np.asarray(pairs, dtype=np.int64)
    order = np.lexsort((arr[:, 1], arr[:, 0]))
    return arr[order]


def _expand_multi(q: SpanQuery, searcher) -> SpanQuery:
    """Resolve SpanMultiTermQuery nodes against the term dictionary
    (the SpanMultiTermQueryWrapper rewrite)."""
    if isinstance(q, SpanMultiTermQuery):
        expanded = searcher._expand(q.wrapped.rewrite())
        from lucenenet_spark.search.queries import (
            BooleanQuery,
            ConstantScoreQuery,
            TermQuery,
        )

        inner = expanded.query if isinstance(expanded, ConstantScoreQuery) else expanded
        terms: list[str] = []
        if isinstance(inner, TermQuery):
            terms = [inner.term]
        elif isinstance(inner, BooleanQuery):
            terms = [
                c.query.term for c in inner.clauses if isinstance(c.query, TermQuery)
            ]
        return SpanOrQuery(tuple(SpanTermQuery(t) for t in sorted(set(terms))))
    if isinstance(q, SpanNearQuery):
        return SpanNearQuery(
            tuple(_expand_multi(c, searcher) for c in q.clauses), q.slop, q.in_order
        )
    if isinstance(q, SpanOrQuery):
        return SpanOrQuery(tuple(_expand_multi(c, searcher) for c in q.clauses))
    if isinstance(q, SpanNotQuery):
        return SpanNotQuery(
            _expand_multi(q.include, searcher), _expand_multi(q.exclude, searcher)
        )
    if isinstance(q, SpanFirstQuery):
        return SpanFirstQuery(_expand_multi(q.match, searcher), q.end)
    if isinstance(q, SpanPositionRangeQuery):
        return SpanPositionRangeQuery(
            _expand_multi(q.match, searcher), q.start, q.end
        )
    return q


def _required_slots(q: SpanQuery) -> list[list[str]]:
    """Conjunctive docid-candidacy slots for ``q`` — a doc can only
    match if, for every slot, it contains >= 1 of the slot's terms.
    Always a SUPERSET certificate (SpanOr clauses are any-of; SpanNot
    excludes never shrink candidacy)."""
    if isinstance(q, SpanNearQuery) and len(q.clauses) > 1:
        return [sorted(set(c.terms())) for c in q.clauses]
    if isinstance(q, (SpanFirstQuery, SpanPositionRangeQuery)):
        return _required_slots(q.match)
    if isinstance(q, SpanNotQuery):
        return _required_slots(q.include)
    return [sorted(set(q.terms()))]


_EMPTY_COUNTS = pd.DataFrame(
    {"docid": pd.array([], dtype="int64"), "n_spans": pd.array([], dtype="int64")}
)
_EMPTY_SCORED = pd.DataFrame(
    {"docid": pd.array([], dtype="int64"), "score": pd.array([], dtype="float32")}
)


def _bucket_span_eval(
    searcher, terms, stats, match, schema: str, payloads: bool = False
) -> DataFrame:
    """The span and payload plan on the shared bucketed positional
    kernel (``index/postings.py``, the phrase scorer's shape): ONE
    packed scan filtered to ``terms``, ONE shuffle of the compressed
    blocks by bucket — none when ``stats`` (``searcher._term_stats`` of
    ``terms``) puts the query in the single-partition regime, as for
    the phrase scorer — and ONE ``applyInPandas`` running ``match`` (a
    bucket group -> rows of ``schema``). Deleted docs are anti-joined
    here."""
    idx = searcher.index
    out = positional_groups(
        idx.packed, terms, idx.max_doc, payloads, single=single_partition(stats)
    ).applyInPandas(match, schema)
    return drop_deleted(out, searcher.tombstones)


def _ordered_pairs(g1: np.ndarray, g2: np.ndarray, slop: int):
    """Two-term ordered near walk over a bucket's sorted position keys:
    start ``g1[i]`` pairs with its MINIMAL same-doc successor
    ``g2[nxt[i]] > g1[i]`` and is ``valid`` when ``p2 - p1 - 1 <= slop``
    — :func:`_enumerate`'s per-start spec (greedy fits <=> some chain
    fits), repeated term included. One searchsorted, no per-doc loop."""
    nxt = np.minimum(np.searchsorted(g2, g1 + 1), g2.size - 1)
    p2 = g2[nxt]
    valid = (
        (p2 > g1)
        & ((p2 >> KEY_SHIFT) == (g1 >> KEY_SHIFT))
        & (p2 - g1 - 1 <= slop)
    )
    return valid, nxt


def _eval_span_bucket(
    pdf: pd.DataFrame, qq: SpanQuery, req, scored: bool, sim, w32
) -> pd.DataFrame:
    """Span matcher for one bucket group: (docid, n_spans), or
    (docid, score) when ``scored``. Positions arrive as bucket-local
    keys ``(docid << 32) + position`` from :func:`bucket_positions`."""
    empty = _EMPTY_SCORED if scored else _EMPTY_COUNTS
    bp = bucket_positions(pdf, req)
    if bp is None:
        return empty
    cand = bp.cand
    # 2-term ordered: n_spans = valid starts per doc
    if (
        not scored
        and isinstance(qq, SpanNearQuery)
        and qq.in_order
        and len(qq.clauses) == 2
        and all(isinstance(c, SpanTermQuery) for c in qq.clauses)
    ):
        g1 = bp.keys[qq.clauses[0].term]
        valid, _ = _ordered_pairs(g1, bp.keys[qq.clauses[1].term], qq.slop)
        if not valid.any():
            return empty
        vd, vc = np.unique(g1[valid] >> KEY_SHIFT, return_counts=True)
        return pd.DataFrame(
            {"docid": vd + bp.base, "n_spans": vc.astype(np.int64)}
        )

    bases = cand << KEY_SHIFT
    nxt_bases = (cand + 1) << KEY_SHIFT
    unions = [
        (t, u, np.searchsorted(u, bases), np.searchsorted(u, nxt_bases))
        for t, u in bp.keys.items()
    ]
    keep: list[int] = []
    vals: list = []
    for j in range(cand.size):
        posmap = {}
        for t, u, los, his in unions:
            if los[j] < his[j]:
                posmap[t] = u[los[j]:his[j]] - bases[j]
        spans = _enumerate(qq, posmap)
        if len(spans) == 0:
            continue
        if scored:
            # SpanScorer.SetFreqCurrentDoc: float32 ordered sum of
            # 1/(1 + matchLength) over spans in enumeration order
            acc = np.float32(0.0)
            for s, e in spans:
                acc = np.float32(acc + np.float32(1.0) / np.float32(1 + (e - s)))
            vals.append(acc)
        else:
            vals.append(len(spans))
        keep.append(j)
    if not keep:
        return empty
    docs = cand[keep] + bp.base
    if scored:
        s = sim.score(np.asarray(vals, dtype=np.float32), bp.norms[keep], w32)
        return pd.DataFrame({"docid": docs, "score": s.astype(np.float32)})
    return pd.DataFrame({"docid": docs, "n_spans": np.asarray(vals, dtype=np.int64)})


def span_query(searcher, q: SpanQuery) -> DataFrame:
    """Evaluate a span query -> (docid, n_spans), n_spans >= 1.

    Physical shape = the per-bucket block-grouped plan
    (:func:`_bucket_span_eval`): one packed scan with term-IN
    pushdown, one compressed-block shuffle (none for a small query),
    per-doc numpy span enumeration inside the bucket group."""
    q = _expand_multi(q, searcher)
    terms = sorted(set(q.terms()))
    if not terms:
        return _empty(searcher)
    sim, req = searcher.sim, _required_slots(q)
    return _bucket_span_eval(
        searcher, terms, searcher._term_stats(terms),
        lambda pdf: _eval_span_bucket(pdf, q, req, False, sim, np.float32(1.0)),
        "docid long, n_spans long",
    )


def span_query_scored(searcher, q: SpanQuery, k: int | None = 10) -> DataFrame:
    """Scored span query — the SpanScorer/SpanWeight surface
    (``Search/Spans/SpanScorer.cs:48-76``): per doc,
    ``freq = Σ slopFactor(matchLength)`` over the enumerated spans
    with BM25's ``slopFactor(d) = 1/(1+d)`` and ``matchLength =
    end - start`` (SpanScorer.SetFreqCurrentDoc), accumulated in span
    order as a float32 ordered sum; weight = the similarity's
    multi-term form over the query's terms in sorted-unique order
    (pinned; the reference iterates its termContexts map). Score =
    ``sim.score(freq, norm, weight)`` — so a SpanNearQuery ranks like
    a proximity-weighted phrase. Output (docid, score) top-k.

    Physical shape = the per-bucket block-grouped plan
    (:func:`_bucket_span_eval`)."""
    q = _expand_multi(q, searcher)
    terms = sorted(set(q.terms()))
    if not terms:
        return searcher._empty()
    stats = searcher._term_stats(terms)
    dfs = [stats.get(t, (0, 0))[0] for t in terms]
    sim, req = searcher.sim, _required_slots(q)
    w32 = np.float32(sim.weight_multi(dfs, searcher.index.max_doc, 1.0))
    scored = _bucket_span_eval(
        searcher, terms, stats,
        lambda pdf: _eval_span_bucket(pdf, q, req, True, sim, w32),
        "docid long, score float",
    )
    out = scored.orderBy(F.col("score").desc(), F.col("docid").asc())
    return out.limit(k) if k is not None else out


def _empty(searcher) -> DataFrame:
    return searcher.index.docs.sparkSession.createDataFrame(
        [], "docid long, n_spans long"
    )
