"""Cross-field search — MultiFieldQueryParser / per-field Weight
semantics (reference
``src/Lucene.Net.QueryParser/Classic/MultiFieldQueryParser.cs:38-118``;
per-field stats freeze as in ``Search/TermQuery.cs:188``).

Every leaf (term/phrase) scores against ONE field's index with that
field's df/avgdl/norms; composites fold per-clause frames with the
same float32 combiners the single-field engine uses
(searcher.py::combine_boolean_frames / combine_dismax_frames), so
scores stay bit-reproducible and partition-count invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucenenet_spark.index.multifield import MultiFieldIndex
from lucenenet_spark.search.queries import (
    BooleanQuery,
    DisjunctionMaxQuery,
    Occur,
    PhraseQuery,
    Query,
    TermQuery,
)
from lucenenet_spark.search.searcher import (
    IndexSearcher,
    combine_boolean_frames,
    combine_dismax_frames,
    explain_boolean,
    explain_dismax,
)


class MultiFieldSearcher:
    """Routes fielded query nodes to per-field :class:`IndexSearcher`
    instances and combines across fields."""

    def __init__(
        self,
        index: MultiFieldIndex,
        similarity_by_field: dict | None = None,
        **searcher_kwargs,
    ):
        """``similarity_by_field`` maps field name -> Similarity
        instance, overriding the shared ``similarity=`` kwarg for
        that field — the PerFieldSimilarityWrapper extension point
        (reference ``Search/Similarities/PerFieldSimilarityWrapper.cs:30``:
        ``Get(field)`` picks the per-field SimWeight/SimScorer; here
        each field's IndexSearcher owns its Similarity, and the
        cross-field float32 combiners are similarity-agnostic)."""
        self.index = index
        self.searchers = {}
        for name, idx in index.fields.items():
            kw = dict(searcher_kwargs)
            if similarity_by_field and name in similarity_by_field:
                kw["similarity"] = similarity_by_field[name]
            self.searchers[name] = IndexSearcher(idx, **kw)

    def _field_of(self, q: Query) -> str:
        f = getattr(q, "field", None) or self.index.default_field
        if f not in self.searchers:
            raise KeyError(f"unknown field {f!r}; have {list(self.searchers)}")
        return f

    def _leaf_scored(self, q: Query) -> DataFrame | None:
        """Compile a (possibly fielded) leaf/simple query on its
        field's searcher; None for a provably-empty result."""
        s = self.searchers[self._field_of(q)]
        expanded = s._expand(q.rewrite())
        stats = s._collect_stats(expanded)
        return s._compile(expanded, stats, top_k=None)

    def scored_docs(self, query: Query) -> DataFrame:
        s0 = self.searchers[self.index.default_field]
        if isinstance(query, BooleanQuery):
            frames = []
            neg_frames = []
            must = [c for c in query.clauses if c.occur == Occur.MUST]
            should = [c for c in query.clauses if c.occur == Occur.SHOULD]
            if not must and not should:
                return s0._empty()
            for cidx, c in enumerate(query.clauses):
                sub = self._leaf_scored(c.query)
                if c.occur == Occur.MUST_NOT:
                    if sub is not None:
                        neg_frames.append(sub.select("docid"))
                    continue
                kind = 1 if c.occur == Occur.MUST else 0
                if sub is None:
                    if kind:
                        return s0._empty()
                    continue
                frames.append(
                    sub.select(
                        "docid",
                        F.lit(cidx).alias("cidx"),
                        F.lit(kind).alias("kind"),
                        "score",
                    )
                )
            if not frames:
                return s0._empty()
            pos = frames[0]
            for fdf in frames[1:]:
                pos = pos.unionByName(fdf)
            required_should = max(
                query.minimum_number_should_match, 0 if must else 1
            )
            scored = combine_boolean_frames(pos, len(must), required_should, query.boost)
            for neg in neg_frames:
                scored = scored.join(neg, "docid", "left_anti")
            return scored
        if isinstance(query, DisjunctionMaxQuery):
            frames = []
            for cidx, d in enumerate(query.disjuncts):
                sub = self._leaf_scored(d)
                if sub is not None:
                    frames.append(
                        sub.select("docid", F.lit(cidx).alias("cidx"), "score")
                    )
            if not frames:
                return s0._empty()
            pos = frames[0]
            for fdf in frames[1:]:
                pos = pos.unionByName(fdf)
            return combine_dismax_frames(pos, query.tie_breaker, query.boost)
        scored = self._leaf_scored(query)
        return scored if scored is not None else s0._empty()

    def search_df(self, query: Query, k: int | None = 10) -> DataFrame:
        out = self.scored_docs(query).orderBy(
            F.col("score").desc(), F.col("docid").asc()
        )
        return out.limit(k) if k is not None else out

    def explain(self, query: Query, docid: int) -> dict:
        """Cross-field Explain: each leaf explains on ITS field's
        searcher (that field's df/avgdl/norms/similarity); boolean and
        dismax nodes fold child values with exactly the float32 rules
        ``scored_docs`` executes (combine_boolean_frames /
        combine_dismax_frames), so the root value is bit-identical to
        the doc's ``search_df`` score."""
        if isinstance(query, BooleanQuery):
            return explain_boolean(
                query, [self.explain(c.query, docid) for c in query.clauses]
            )
        if isinstance(query, DisjunctionMaxQuery):
            return explain_dismax(
                query, [self.explain(d, docid) for d in query.disjuncts]
            )
        out = self.searchers[self._field_of(query)].explain(query, docid)
        out["field"] = self._field_of(query)
        return out

    def dismax_all_fields(
        self,
        query: Query,
        tie_breaker: float = 0.0,
        boosts: dict[str, float] | None = None,
        k: int | None = 10,
    ) -> DataFrame:
        """MultiFieldQueryParser.Parse(q, fields, boosts): apply an
        unfielded query to EVERY field and DisMax-combine — the
        standard 'search title and body, best field wins' shape.
        Disjunct order (= float32 fold order) is the index's declared
        field order."""
        import dataclasses

        disjuncts = []
        for name in self.index.field_order:
            boost = (boosts or {}).get(name, 1.0)
            q = dataclasses.replace(query, field=name, boost=query.boost * boost)
            disjuncts.append(q)
        dq = DisjunctionMaxQuery(disjuncts=tuple(disjuncts), tie_breaker=tie_breaker)
        return self.search_df(dq, k)
