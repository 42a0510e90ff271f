"""Distributed BM25 top-k query engine (reference trace SURVEY.md §3.2).

Compilation model: every Query node compiles to a DataFrame of
``(docid: long, score: float)`` — float32 column, scores computed by
numpy inside Arrow UDFs in exactly the reference's float32 operation
order (``BM25Similarity.cs:254-264``), because Spark SQL float/float
division promotes to double and would drift from the float32 oracle.

Physical shape per node (the parallel plan; see "Plan regime" below):

- **TermQuery** — scan packed posting blocks filtered on ``term``
  (parquet predicate pushdown + row-group min/max = the BlockTree
  dictionary seek), block-max prune them when the term is long, then
  decode and score them as a one-clause plan of the term-family reader
  (``postings.score_blocks``, one ``mapInPandas``) — zero shuffles; a
  single-term top-k is scan → UDF → TakeOrderedAndProject.
- **BooleanQuery** — clause DataFrames union-all'd then hash-aggregated
  on docid (Spark's partial/final hash agg *is* the reference's
  bucket-table bulk scorer, ``Search/BooleanScorer.cs:136``):
  MUST = count(must-matched) == n_must (ConjunctionScorer),
  SHOULD = sum with optional minShouldMatch (DisjunctionSumScorer /
  MinShouldMatchSumScorer), MUST_NOT = left_anti join (ReqExclScorer).
  Every TermQuery clause, prohibited ones included, rides ONE scan of
  the term-family reader under the query's clause plan. Clause scores
  are folded in clause-index order in float32 — the
  pinned deterministic summation that makes results partition-count
  invariant (the reference analog: TestSameScoresWithThreads). The
  fold runs JVM-side: Spark's FloatType Add/Multiply is Java float
  arithmetic, bit-identical to numpy's float32 ordered accumulation, so
  the combine is a few SQL expressions (``count_if``,
  ``sort_array(collect_list(...))``, ``aggregate``) in whole-stage
  codegen, with its float literals cast exactly to FLOAT
  (:func:`combine_boolean_frames`).
- **PhraseQuery** / **MultiPhraseQuery** — the shared bucketed
  positional kernel (``index/postings.py``): one packed scan, one
  compressed-block shuffle by docid bucket, candidate-gated position
  decode, then a vectorized shifted-position intersection
  (ExactPhraseScorer's chunked counting, done with numpy sets) or the
  sloppy frequency.
- **MultiTermQuery** (prefix/wildcard/fuzzy/range) — expanded against
  the term_stats dictionary DataFrame (a broadcast-size predicate
  scan), then rewritten to the boolean pipeline
  (``Search/MultiTermQuery.cs`` rewrite); the constant-score rewrite
  reads its terms through the term-family reader with no similarity
  (docids only, no freqs or norms) and keeps the docid set with one
  ``distinct``.

Plan regime. The reference ``IndexSearcher`` searches on the calling
thread unless the caller hands it an executor (``Search/IndexSearcher.cs``);
at serving sizes Spark's fixed cost per job and per task outweighs the
decode. So ``_compile`` sizes the plan from the driver's term stats:
Σ⌈df/128⌉ over the expanded terms estimates the blocks the query reads
(``postings.estimated_blocks``). At or below
``postings.SINGLE_PARTITION_MAX_BLOCKS`` the packed scan (``term IN``
still pushed to parquet) is coalesced to ONE partition; Catalyst then
sees ``SinglePartition`` and plans the docid groupBy of boolean,
min-should-match, dismax and fuzzy, the constant-score ``distinct`` of
prefix, wildcard and regexp, and the bucket grouping of the positional
kernel without an exchange, so every query type runs as one job of
one task (a tombstoned read adds the broadcast of its deletes). Above it the query keeps the parallel plan described per
node. The constant is measured, not a knob: on the ``bench.py`` sf0.1
warehouse at local[4], the crossover where one task's decode costs more
than the job it saves comes at ~2k blocks for term and disjunction
reads and between 0.5k and 1k for positional reads, which decode more
per block; the constant sits below both, so the head-term and
head-disjunction legs keep the parallel plan (BENCH.md). Both regimes
give the same docids and float32 score bits: every fold is pinned to
clause order, never to partition order.

Global statistics (df, ttf, maxDoc, sumTotalTermFreq) are collected
once per query on the driver and baked into UDF closures — the exact
scheme that makes distributed scores reproducible (the reference
freezes stats in Weight before scoring, ``TermQuery.cs:188``,
``IndexSearcher.cs:1070-1116``).

Top-k: ``ORDER BY score DESC, docid ASC LIMIT k`` →
TakeOrderedAndProject, a distributed bounded heap with per-partition
heaps + driver merge — the same algorithm as TopScoreDocCollector +
TopDocs.Merge (``Search/HitQueue.cs:88-105`` tie-break: smaller docid
wins on equal score).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucenenet_spark.functions import bm25
from lucenenet_spark.functions.sloppy import (
    sloppy_freq_2slot_encoded,
    sloppy_phrase_freq,
)
from lucenenet_spark.functions.varbyte import BLOCK_SIZE as _BLOCK_SIZE
from lucenenet_spark.index.builder import InvertedIndex
from lucenenet_spark.index.postings import (
    KEY_SHIFT,
    bucket_positions,
    drop_deleted,
    positional_groups,
    read_blocks,
    score_blocks,
    single_partition,
)
from lucenenet_spark.search.queries import (
    BooleanQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    MatchAllDocsQuery,
    MultiPhraseQuery,
    MultiTermQuery,
    Occur,
    PhraseQuery,
    Query,
    TermQuery,
)

MAX_CLAUSE_COUNT = 1024  # BooleanQuery.maxClauseCount default

SCORED = T.StructType(
    [T.StructField("docid", T.LongType()), T.StructField("score", T.FloatType())]
)


@dataclass(frozen=True)
class Hit:
    docid: int
    score: float


class IndexSearcher:
    def __init__(
        self,
        index: InvertedIndex,
        prune: bool = True,
        prune_min_df: int = 64 * _BLOCK_SIZE,
        stats_cache_max_terms: int = 2_000_000,
        tombstones: DataFrame | None = None,
        similarity=None,
    ):
        self.index = index
        self.prune = prune
        # below ~64 blocks the θ job costs as much as just decoding, so
        # only high-df terms prune (tests lower this to force the path)
        self.prune_min_df = prune_min_df
        # liveDocs: deleted docids anti-joined out of every result
        # (streaming/ingest.py delete model; reference BufferedUpdates)
        self.tombstones = tombstones
        self.stats_cache_max_terms = stats_cache_max_terms
        self._avgdl = bm25.avg_field_length(index.sum_total_term_freq, index.max_doc)
        self._cache = bm25.norm_cache(self._avgdl)
        # pluggable similarity (§2.11): term/boolean/dismax/phrase/
        # multi-phrase scoring and explain all route through
        # sim.weight/sim.weight_multi/sim.score — similarity-generic
        # like the reference scorers (SimilarityBase.cs)
        if similarity is None:
            from lucenenet_spark.functions.similarity import BM25Similarity

            similarity = BM25Similarity(self._avgdl)
        self.sim = similarity
        # term dictionary cache: None = not loaded yet; False = larger
        # than stats_cache_max_terms (fall back to per-query Spark
        # lookups); dict = full {term: (df, ttf)} held driver-side.
        # The reference freezes global stats in Weight before scoring
        # (TermQuery.cs:188); caching the whole dictionary once instead
        # of one Spark job per query is the same freeze amortized — at
        # 2M terms the dict is ~100 MB of driver RAM, far below what a
        # driver ships as a broadcast join anyway.
        self._stats_map_cache: dict[str, tuple[int, int]] | None | bool = None
        self._term_series_cache = None  # sorted pd.Series of dict terms

    def _stats_map(self) -> dict[str, tuple[int, int]] | bool:
        if self._stats_map_cache is None:
            rows = self.index.term_stats.limit(self.stats_cache_max_terms + 1).collect()
            if len(rows) > self.stats_cache_max_terms:
                self._stats_map_cache = False
            else:
                self._stats_map_cache = {
                    r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows
                }
        return self._stats_map_cache

    def _term_series(self) -> "pd.Series":
        """Sorted term dictionary as a pandas Series — the vectorized
        expansion substrate (C-level str.match/fullmatch/startswith
        instead of a driver Python loop per term)."""
        if self._term_series_cache is None:
            m = self._stats_map()
            assert m is not False
            self._term_series_cache = pd.Series(sorted(m))
        return self._term_series_cache

    # ------------------------------------------------------------- API
    def search(self, query: Query, k: int = 10) -> list[Hit]:
        df = self.search_df(query, k)
        return [Hit(r["docid"], r["score"]) for r in df.collect()]

    def search_df(self, query: Query, k: int | None = 10) -> DataFrame:
        query = self._expand(query.rewrite())
        stats = self._collect_stats(query)
        scored = self._compile(query, stats, top_k=k)
        if scored is None:
            return self._empty()
        out = drop_deleted(scored, self.tombstones).orderBy(
            F.col("score").desc(), F.col("docid").asc()
        )
        return out.limit(k) if k is not None else out

    def count(self, query: Query) -> int:
        """TotalHitCountCollector analog."""
        return self.scored_docs(query).count()

    def doc(self, docid: int) -> dict | None:
        """Stored-field retrieval — ``IndexSearcher.Doc(docid)``: the
        document's stored columns (meta, field_length, norm, sha) as a
        dict, or None. One docs-table point lookup (parquet min/max
        row-group pruning on the docid column)."""
        rows = self.index.docs.where(F.col("docid") == int(docid)).collect()
        return rows[0].asDict() if rows else None

    def docs_df(self, docids: list[int]) -> DataFrame:
        """Bulk stored-field retrieval for a hit page (the render step
        after top-k): one semi-joined scan, never per-doc lookups."""
        spark = self.index.docs.sparkSession
        want = spark.createDataFrame([(int(d),) for d in docids], "docid long")
        return self.index.docs.join(F.broadcast(want), "docid", "left_semi")

    def scored_docs(self, query: Query) -> DataFrame:
        """Every matching doc with its score — the un-truncated scored
        set (collector input for faceting/grouping/pagination)."""
        query = self._expand(query.rewrite())
        stats = self._collect_stats(query)
        scored = self._compile(query, stats, top_k=None)
        if scored is None:
            return self._empty()
        return drop_deleted(scored, self.tombstones)

    def search_many(
        self, queries: dict[str, Query], k: int = 10, max_concurrency: int = 8
    ) -> DataFrame:
        """Batched query execution — (query_id, rank, docid, score).

        Each query's plan is submitted as its OWN Spark action from a
        driver thread pool: Spark's scheduler interleaves the jobs'
        stages across the executors (all sharing the cached packed
        scan), so one query's serial tail (driver merge, small final
        stages) overlaps another's scan. Measured on the sf0.1
        15-query suite: sequential loop 12.4 s, one giant unioned plan
        14.3 s (a single action serializes at every shuffle barrier
        and loses AQE per-query), 8-thread submission 6.6 s. This is
        the standard Spark serving-tier shape (concurrent jobs in one
        SparkContext); results are bit-identical to per-query
        ``search`` because every job compiles the same deterministic
        plan — the reference analog is TestSameScoresWithThreads."""
        from concurrent.futures import ThreadPoolExecutor

        names = list(queries)
        if not names:
            return self.index.docs.sparkSession.createDataFrame(
                [], "query_id string, rank long, docid long, score float"
            )
        with ThreadPoolExecutor(min(max_concurrency, len(names))) as ex:
            results = dict(
                ex.map(lambda n: (n, self.search(queries[n], k)), names)
            )
        rows = []
        for name in names:
            for rank, h in enumerate(results[name], start=1):
                rows.append((name, rank, int(h.docid), float(h.score)))
        return self.index.docs.sparkSession.createDataFrame(
            rows, "query_id string, rank long, docid long, score float"
        )

    def matching_docids(self, query: Query) -> DataFrame:
        """Distinct docids matching the query (the non-scoring Filter /
        DocIdSet view, ``Search/Filter.cs``)."""
        return self.scored_docs(query).select("docid").distinct()

    def explain(self, query: Query, docid: int) -> dict:
        """Score breakdown for one document — the
        ``IndexSearcher.Explain`` / ``Similarity.Explain`` surface
        (``Search/IndexSearcher.cs``; ``BM25Similarity.cs:266-328``):
        a nested dict with the float32 value at each node. The root
        value is bit-identical to the doc's score in ``search`` for
        EVERY query type the compiler supports (term, boolean, phrase,
        multi-phrase, dismax, constant-score, match-all, multi-term
        rewrites), under whichever Similarity is installed — the
        reference's Explain covers the same surface
        (``Tests/Search/TestExplanations.cs``). A tombstoned docid
        matches nothing, as under the reference's liveDocs."""
        from lucenenet_spark.search.mlt import term_vector

        q = self._expand(query.rewrite())
        stats = self._collect_stats(q)
        deleted = self.tombstones is not None and bool(
            self.tombstones.where(f"docid = {int(docid)}").limit(1).count()
        )
        # one block-pruned decode gives freqs AND positions
        tv = [] if deleted else term_vector(self, docid).collect()
        tfs: dict[str, int] = {}
        posmap: dict[str, list[int]] = {}
        for r in tv:
            posmap.setdefault(r["term"], []).append(int(r["pos"]))
        tfs = {t: len(ps) for t, ps in posmap.items()}
        norm_row = self.index.docs.where(F.col("docid") == docid).select("norm").collect()
        norm = int(norm_row[0]["norm"]) if norm_row else 255
        sim = self.sim
        max_doc = self.index.max_doc

        def leaf_value(freq: float, w) -> float:
            return float(
                sim.score(
                    np.array([freq], dtype=np.float32),
                    np.array([norm], dtype=np.uint8),
                    np.float32(float(w)),
                )[0]
            )

        def phrase_freq(sub) -> float:
            if isinstance(sub, PhraseQuery):
                terms_l = list(sub.phrase_terms)
                if any(t not in posmap for t in terms_l):
                    return 0.0
                arrs = [np.asarray(posmap[t], dtype=np.int64) for t in terms_l]
                keys = terms_l
            else:  # MultiPhraseQuery
                arrs, keys = [], []
                for slot in sub.slots:
                    present = [t for t in slot if t in posmap]
                    if not present:
                        return 0.0
                    arrs.append(
                        np.unique(
                            np.concatenate(
                                [np.asarray(posmap[t], dtype=np.int64) for t in present]
                            )
                        )
                    )
                    keys.append(tuple(slot))
            rels = list(sub.positions())
            if sub.slop == 0:
                acc = arrs[0] - rels[0]
                for a, r in zip(arrs[1:], rels[1:]):
                    acc = np.intersect1d(acc, a - r)
                    if acc.size == 0:
                        break
                return float(np.count_nonzero(acc >= 0))
            return float(
                sloppy_phrase_freq(arrs, sub.slop, offsets=rels, term_keys=keys)
            )

        def node(sub: Query) -> dict:
            if isinstance(sub, TermQuery):
                if sub.term not in stats or sub.term not in tfs:
                    return {"type": "term", "term": sub.term, "match": False, "value": 0.0}
                df_ = stats[sub.term][0]
                w = self._term_weight(sub.term, sub.boost, stats)
                val = leaf_value(float(tfs[sub.term]), w)
                out = {
                    "type": "term", "term": sub.term, "match": True,
                    "value": val, "freq": float(tfs[sub.term]),
                    "boost": sub.boost, "doc_freq": df_, "norm_byte": norm,
                    "similarity": getattr(sim, "name", "custom"),
                }
                if getattr(sim, "name", "") == "bm25":
                    idf = bm25.idf(df_, max_doc)
                    out.update(
                        idf=float(idf), norm_cache=float(self._cache[norm]),
                        k1=1.2, b=0.75,
                    )
                return out
            if isinstance(sub, (PhraseQuery, MultiPhraseQuery)):
                terms_src = (
                    list(sub.phrase_terms)
                    if isinstance(sub, PhraseQuery)
                    else [t for slot in sub.slots for t in slot]
                )
                if isinstance(sub, PhraseQuery) and any(
                    t not in stats for t in terms_src
                ):
                    return {"type": "phrase", "match": False, "value": 0.0}
                dfs = [stats.get(t, (0, 0))[0] for t in terms_src]
                w = sim.weight_multi(dfs, max_doc, sub.boost)
                f = phrase_freq(sub)
                if f == 0:
                    return {"type": "phrase", "match": False, "value": 0.0}
                return {
                    "type": "phrase", "match": True, "value": leaf_value(f, w),
                    "freq": f, "slop": sub.slop, "terms": terms_src,
                }
            if isinstance(sub, MatchAllDocsQuery):
                return {
                    "type": "match_all", "match": not deleted,
                    "value": 0.0 if deleted else float(np.float32(sub.boost)),
                }
            if isinstance(sub, ConstantScoreQuery):
                kn = node(sub.query)
                return {
                    "type": "constant_score", "match": kn["match"],
                    "value": float(np.float32(sub.boost)) if kn["match"] else 0.0,
                    "inner": kn,
                }
            if isinstance(sub, DisjunctionMaxQuery):
                return explain_dismax(sub, [node(d) for d in sub.disjuncts])
            if isinstance(sub, BooleanQuery):
                return explain_boolean(sub, [node(c.query) for c in sub.clauses])
            raise NotImplementedError(f"explain: {type(sub).__name__}")

        return node(q)

    # ------------------------------------------------- query expansion
    def _expand(self, q: Query) -> Query:
        """Rewrite MultiTermQuery nodes against the term dictionary —
        against the driver-cached dict when it fits, else a DataFrame
        predicate scan (instead of a TermsEnum automaton walk)."""
        if isinstance(q, MultiTermQuery):
            m = self._stats_map()
            if m is not False:
                ts = self._term_series()
                mask = q.vector_predicate(ts)
                terms = ts[mask].tolist()[:MAX_CLAUSE_COUNT]
            else:
                rows = (
                    self.index.term_stats.where(q.dict_predicate())
                    .select("term")
                    .orderBy("term")
                    .limit(MAX_CLAUSE_COUNT + 1)
                    .collect()
                )
                terms = [r["term"] for r in rows][:MAX_CLAUSE_COUNT]
            from lucenenet_spark.search.queries import FuzzyQuery

            if isinstance(q, FuzzyQuery):
                # TopTermsScoringBooleanQueryRewrite-style: each variant
                # keeps a boost scaled by edit similarity (FuzzyTermsEnum
                # boost = 1 - suffix-edits/min-full-len); max_expansions
                # keeps only the closest N (the rewrite's priority
                # queue), ranked boost desc then term asc.
                p = min(q.prefix_length, len(q.term))
                ranked = []
                for t in terms:
                    # boost distance follows the query's dialect: OSA
                    # when transpositions (the automaton's level), else
                    # plain Levenshtein (FuzzyTermsEnum boost = 1 -
                    # editDistance/minTermLength)
                    edits = q._dist(t[p:], q.term[p:])
                    sim = 1.0 - edits / min(len(t), len(q.term))
                    ranked.append((-sim, t))
                ranked.sort()
                if q.max_expansions is not None:
                    ranked = ranked[: q.max_expansions]
                # truncate by closeness, but EMIT term-asc: the clause
                # order is the pinned float32 fold order shared with the
                # pure-Python and DuckDB oracles
                ranked.sort(key=lambda x: x[1])
                clauses = [
                    (TermQuery(boost=q.boost * -negsim, term=t), Occur.SHOULD)
                    for negsim, t in ranked
                ]
                return BooleanQuery.of(*clauses) if clauses else BooleanQuery.of()
            # constant-score rewrite (CONSTANT_SCORE_AUTO default for
            # prefix/wildcard/range): uniform score = boost
            inner = BooleanQuery.of(
                *[(TermQuery(term=t), Occur.SHOULD) for t in terms]
            )
            return ConstantScoreQuery(boost=q.boost, query=inner)
        if isinstance(q, BooleanQuery):
            return BooleanQuery(
                q.boost,
                tuple(
                    type(c)(self._expand(c.query), c.occur) for c in q.clauses
                ),
                q.minimum_number_should_match,
            )
        if isinstance(q, DisjunctionMaxQuery):
            return DisjunctionMaxQuery(
                q.boost, tuple(self._expand(d) for d in q.disjuncts), q.tie_breaker
            )
        if isinstance(q, ConstantScoreQuery):
            return ConstantScoreQuery(q.boost, self._expand(q.query))
        return q

    def _collect_stats(self, q: Query) -> dict[str, tuple[int, int]]:
        return self._term_stats(q.terms())

    def _term_stats(self, terms) -> dict[str, tuple[int, int]]:
        """``{term: (df, ttf)}`` for the indexed ones of ``terms``: from
        the driver-side dictionary when it fits, else one Spark
        ``term IN`` lookup."""
        terms = sorted(set(terms))
        if not terms:
            return {}
        m = self._stats_map()
        if m is not False:
            return {t: m[t] for t in terms if t in m}
        rows = self.index.term_stats.where(F.col("term").isin(terms)).collect()
        return {r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows}

    # ------------------------------------------------------ compilation
    def _empty(self) -> DataFrame:
        return self.index.docs.sparkSession.createDataFrame([], SCORED)

    def _term_weight(self, term: str, boost: float, stats):
        """The similarity's weight of ``term`` at ``boost`` from the
        query's frozen ``stats``: df, ttf and the index's
        sumTotalTermFreq all reach it, so the LM/DFR weights of search
        and explain agree bit for bit."""
        df_, ttf_ = stats[term]
        return self.sim.weight(
            df_, self.index.max_doc, boost,
            ttf=ttf_, sttf=self.index.sum_total_term_freq,
        )

    def _blocks(self, terms, stats) -> DataFrame:
        """The packed blocks of ``terms`` in the query's plan regime:
        ONE partition when ``stats``, the whole query's term stats, put
        it under ``postings.SINGLE_PARTITION_MAX_BLOCKS``, else the
        scan's own partitions. Every leaf of one query decides from the
        same dict, so a query never mixes the regimes."""
        return read_blocks(self.index.packed, terms, single_partition(stats))

    def _compile(self, q: Query, stats, top_k: int | None) -> DataFrame | None:
        """Returns scored-docs DF or None for a provably-empty result
        (the reference's null-Scorer). ``stats`` (every expanded term of
        the query) also sizes the physical plan: Σ⌈df/128⌉ over it
        estimates the blocks read, and a small query reads them as one
        partition (:meth:`_blocks`)."""
        if isinstance(q, TermQuery):
            return self._term_scores(q.term, q.boost, stats, top_k)
        if isinstance(q, MatchAllDocsQuery):
            return self.index.docs.select(
                "docid", F.lit(float(np.float32(q.boost))).cast("float").alias("score")
            )
        if isinstance(q, ConstantScoreQuery):
            score_col = F.lit(float(np.float32(q.boost))).cast("float").alias("score")
            flat_terms = _pure_term_disjunction(q.query)
            if flat_terms is not None:
                # set-oriented path: a constant-score disjunction (the
                # rewrite target of prefix/wildcard/range) needs only
                # the docID *set* — one scan + distinct, never N
                # per-term scans or any scoring
                plan = {t: [(0, 0, q.boost)] for t in flat_terms if t in stats}
                if not plan:
                    return None
                docids = score_blocks(self._blocks(plan, stats), plan, None)
                return docids.selectExpr("docid").distinct().select("docid", score_col)
            inner = self._compile(q.query, stats, None)
            if inner is None:
                return None
            return inner.select("docid", score_col)
        if isinstance(q, BooleanQuery):
            return self._boolean(q, stats)
        if isinstance(q, DisjunctionMaxQuery):
            return self._dismax(q, stats)
        if isinstance(q, PhraseQuery):
            return self._phrase(q, stats)
        if isinstance(q, MultiPhraseQuery):
            return self._multi_phrase(q, stats)
        raise NotImplementedError(type(q).__name__)

    # ----------------------------------------------------- term scorer
    def _term_scores(
        self, term: str, boost: float, stats, top_k: int | None
    ) -> DataFrame | None:
        if term not in stats:
            return None
        weight = self._term_weight(term, boost, stats)
        blocks = self._blocks([term], stats)
        # pruning certifies its threshold from block metadata that
        # still counts deleted docs — rank-safety requires liveDocs-free
        # reads, so disable under tombstones (merge/compaction restores
        # it). The ub/lb bounds encode BM25's monotonicity, so pruning
        # only engages for the BM25 similarity.
        if (
            self.prune
            and top_k is not None
            and self.tombstones is None
            and getattr(self.sim, "name", "") == "bm25"
            and stats[term][0] > self.prune_min_df
        ):
            blocks = self._prune_blocks(blocks, weight, self._cache, top_k)
        plan = {term: [(0, 0, weight)]}
        return score_blocks(blocks, plan, self.sim).selectExpr("docid", "score")

    def _prune_blocks(self, blocks: DataFrame, weight, cache, k: int) -> DataFrame:
        """Block-max pruning (rank-safe, WAND-flavored; an addition the
        4.8 reference lacks — SURVEY.md §4.2). Upper-bound score per
        block from (max_freq, max_norm): score is increasing in freq
        and in norm byte (shorter doc → bigger byte → smaller cache).

        θ (the k-th best certified lower bound) is computed WITH SPARK
        — a TakeOrderedAndProject over the block-metadata columns only
        (the enc blobs are column-pruned from that scan) — and only the
        one θ scalar reaches the driver. Blocks per term grow as df/128
        (a df=10^8 term has ~780k blocks), so collecting per-block
        metadata driver-side does not scale; the keep-set stays a
        filter, never a driver list.

        lb: the doc attaining max_freq has norm >= min_norm, so the
        block certifiably CONTAINS a doc scoring >= score(max_freq,
        min_norm). The k-th largest lb across blocks is therefore a
        certified k-th-best-score lower bound (k distinct docs, one per
        block) — pruning ub < θ is rank-safe. Bounds are evaluated in
        DOUBLE with a relative margin folded into θ so they certifiably
        bracket the float32 scores the decode path produces.
        """
        wf = float(np.float32(weight))
        # written as SQL text with exact double literals: one py4j call
        # per expression, not several per literal of the 256-entry cache
        cache_arr = "array(" + ", ".join(_f64_sql(v) for v in cache) + ")"

        def bound(norm_col: str) -> str:
            mf = "CAST(max_freq AS DOUBLE)"
            return (
                f"{_f64_sql(wf)} * {mf} / ({mf} + element_at({cache_arr}, {norm_col} + 1))"
            )

        # θ stays IN the plan: the k-th best lb aggregates to one row
        # broadcast-cross-joined back onto the block scan, so the whole
        # prune executes inside the query's own action — no eager
        # .collect() round-trip per query (r02 paid an extra serial
        # Spark job + scheduler latency here on every pruned term)
        theta_df = (
            blocks.selectExpr(f"{bound('min_norm')} AS __lb")
            .orderBy(F.col("__lb").desc())
            .limit(k)
            .selectExpr("min(__lb) AS __theta", "count(*) AS __n")
        )
        # one-sided margin covers double-vs-float32 evaluation skew on
        # both bounds (relative error ~1e-7 each side); n < k ⇒ fewer
        # blocks than k, nothing certifiably prunable
        keep = f"__n < {int(k)} OR {bound('max_norm')} >= __theta * {_f64_sql(1.0 - 1e-5)}"
        return (
            blocks.crossJoin(F.broadcast(theta_df))
            .where(keep)
            .drop("__theta", "__n")
        )

    # ----------------------------------------------------- boolean
    def _boolean(self, q: BooleanQuery, stats) -> DataFrame | None:
        if len(q.clauses) > MAX_CLAUSE_COUNT:
            raise ValueError("too many clauses")
        must = [c for c in q.clauses if c.occur == Occur.MUST]
        should = [c for c in q.clauses if c.occur == Occur.SHOULD]
        nots = [c for c in q.clauses if c.occur == Occur.MUST_NOT]
        if not must and not should:
            return None  # pure negation matches nothing (needs MatchAll)

        # TermQuery clauses — including prohibited ones — all ride ONE
        # postings scan; anything else (nested boolean, phrase,
        # constant-score) compiles recursively. Complex MUST_NOT
        # clauses go through the anti-join path.
        term_plan: dict[str, list[tuple[int, int, float]]] = {}
        frames = []
        complex_nots = []
        for cidx, c in enumerate(q.clauses):
            if c.occur == Occur.MUST_NOT:
                if isinstance(c.query, TermQuery):
                    if c.query.term in stats:
                        term_plan.setdefault(c.query.term, []).append((cidx, -1, 0.0))
                else:
                    complex_nots.append(c)
                continue
            kind = 1 if c.occur == Occur.MUST else 0
            if isinstance(c.query, TermQuery):
                if c.query.term not in stats:
                    if kind:
                        return None  # unmatched MUST ⇒ empty result
                    continue
                w = self._term_weight(c.query.term, c.query.boost, stats)
                term_plan.setdefault(c.query.term, []).append((cidx, kind, w))
                continue
            sub = self._compile(c.query, stats, None)
            if sub is None:
                if kind:
                    return None
                continue
            frames.append(
                sub.select(
                    "docid",
                    F.lit(cidx).alias("cidx"),
                    F.lit(kind).alias("kind"),
                    "score",
                )
            )
        if term_plan:
            blocks = self._blocks(term_plan, stats)
            frames.insert(0, score_blocks(blocks, term_plan, self.sim))
        if not frames:
            return None
        pos = frames[0]
        for fdf in frames[1:]:
            pos = pos.unionByName(fdf)

        min_should = q.minimum_number_should_match
        required_should = max(min_should, 0 if must else 1)
        scored = combine_boolean_frames(pos, len(must), required_should, q.boost)
        return self._apply_not(scored, complex_nots, stats)

    def _apply_not(self, scored: DataFrame, nots, stats) -> DataFrame:
        """Anti-join the docids of the non-term MUST_NOT clauses (term
        ones ride the clause scan as kind -1 rows). A ``left_anti``
        result does not depend on duplicates on its right side, so the
        docids join as they come, with no ``distinct`` shuffle."""
        neg = None
        for c in nots:
            sub = self._compile(c.query, stats, None)
            if sub is None:
                continue
            sub = sub.select("docid")
            neg = sub if neg is None else neg.unionByName(sub)
        if neg is None:
            return scored
        return scored.join(neg, "docid", "left_anti")

    def _dismax(self, q: DisjunctionMaxQuery, stats) -> DataFrame | None:
        term_plan: dict[str, list[tuple[int, int, float]]] = {}
        frames = []
        for cidx, d in enumerate(q.disjuncts):
            if isinstance(d, TermQuery):
                if d.term not in stats:
                    continue
                w = self._term_weight(d.term, d.boost, stats)
                term_plan.setdefault(d.term, []).append((cidx, 0, w))
                continue
            sub = self._compile(d, stats, None)
            if sub is not None:
                frames.append(sub.select("docid", F.lit(cidx).alias("cidx"), "score"))
        if term_plan:
            blocks = self._blocks(term_plan, stats)
            frames.insert(
                0, score_blocks(blocks, term_plan, self.sim).selectExpr("docid", "cidx", "score")
            )
        if not frames:
            return None
        pos = frames[0]
        for fdf in frames[1:]:
            pos = pos.unionByName(fdf)
        return combine_dismax_frames(pos, q.tie_breaker, q.boost)

    # ----------------------------------------------------- phrase
    def _phrase_bucket_scored(
        self, slots: list[list[str]], rels: list[int], slop: int, wf: float, stats
    ) -> DataFrame:
        """Per-bucket phrase verification over PACKED blocks — the
        distributed analog of Lucene's per-segment ExactPhraseScorer
        with skip lists (``Search/ExactPhraseScorer.cs:292``;
        ``NearSpansOrdered`` for slop). The shared bucketed positional
        kernel (``index/postings.py``) does the scan, the compressed
        block shuffle, the docid conjunction and the candidate-gated
        position decode; :func:`_verify_phrase_bucket` is the matcher."""
        sim, w32 = self.sim, np.float32(wf)
        return positional_groups(
            self.index.packed, [t for slot in slots for t in slot], self.index.max_doc,
            single=single_partition(stats),
        ).applyInPandas(
            lambda pdf: _verify_phrase_bucket(pdf, slots, rels, slop, sim, w32),
            schema=SCORED,
        )

    def _phrase(self, q: PhraseQuery, stats) -> DataFrame | None:
        terms = list(q.phrase_terms)
        if not terms or any(t not in stats for t in terms):
            return None
        # weight: the pluggable similarity's multi-term form (BM25:
        # float32-ordered idf sum; Classic: summed idf squared) —
        # Similarity.ComputeWeight(TermStatistics[]) made concrete
        w = self.sim.weight_multi(
            [stats[t][0] for t in terms], self.index.max_doc, q.boost
        )
        return self._phrase_bucket_scored(
            [[t] for t in terms], list(q.positions()), q.slop, float(w), stats
        )

    def _multi_phrase(self, q: MultiPhraseQuery, stats) -> DataFrame | None:
        """MultiPhraseQuery (``Search/MultiPhraseQuery.cs:72``): slot i
        matches if ANY of its alternatives sits at the expected
        position. Same physical shape as the exact/sloppy phrase, with
        each slot's position set being the union of its present terms'
        positions (UnionDocsAndPositionsEnum's merge)."""
        slots = [tuple(s) for s in q.slots if s]
        if not slots:
            return None
        present = [[t for t in slot if t in stats] for slot in slots]
        if any(not p for p in present):
            return None  # a slot with no indexed alternative matches nothing
        # weight: idf summed over EVERY term of every slot in order,
        # absent terms contributing df=0 idf (reference sums the full
        # termArrays' TermStatistics), via the similarity plug
        w = self.sim.weight_multi(
            [stats.get(t, (0, 0))[0] for slot in slots for t in slot],
            self.index.max_doc,
            q.boost,
        )
        return self._phrase_bucket_scored(
            present, list(q.positions()), q.slop, float(w), stats
        )


_EMPTY_SCORED = pd.DataFrame(
    {"docid": pd.array([], dtype="int64"), "score": pd.array([], dtype="float32")}
)


def _verify_phrase_bucket(
    pdf: pd.DataFrame, slots_c, rels_c, slop: int, sim, w32
) -> pd.DataFrame:
    """Phrase matcher for one bucket group: exact, 2-slot sloppy or
    general sloppy frequency per candidate doc, scored with the
    similarity. Positions arrive as bucket-local keys
    ``(docid << 32) + position`` from :func:`bucket_positions`."""
    bp = bucket_positions(pdf, slots_c)
    if bp is None:
        return _EMPTY_SCORED
    cand = bp.cand
    slot_keys = [tuple(s) for s in slots_c]
    # per-slot position unions in the key space: the doc in the high
    # bits keeps docs apart (positions < 2³², rels tiny — no aliasing),
    # so one numpy set op covers every candidate doc in the bucket
    unions_g = []
    for slot in slots_c:
        arrs = [bp.keys[t] for t in slot if t in bp.keys]
        if not arrs:
            return _EMPTY_SCORED
        unions_g.append(arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs)))
    freqs = np.zeros(cand.size, dtype=np.float32)
    if slop == 0:
        # vectorized ExactPhraseScorer (``ExactPhraseScorer.cs:292``):
        # candidate start = every position of slot 0 shifted by its
        # offset; intersect across slots
        u0 = unions_g[0]
        # posIndex >= 0: a phrase cannot start before the doc
        acc = u0[(u0 & np.int64(0xFFFFFFFF)) >= rels_c[0]] - np.int64(rels_c[0])
        for u, r in zip(unions_g[1:], rels_c[1:]):
            acc = np.intersect1d(acc, u - np.int64(r))
            if acc.size == 0:
                return _EMPTY_SCORED
        docs_m, counts = np.unique(
            (acc + np.int64(rels_c[0])) >> KEY_SHIFT, return_counts=True
        )
        freqs[np.searchsorted(cand, docs_m)] = counts.astype(np.float32)
    elif len(slots_c) == 2 and slot_keys[0] != slot_keys[1]:
        # sloppy, two distinct slots (every 2-term sloppy phrase — the
        # dominant shape): closed form of the PQ walk evaluated for the
        # WHOLE bucket in one numpy pass (``sloppy_freq_2slot_encoded``;
        # bit-for-bit property-tested against the walk). At sf1 the
        # per-doc walk was 73% of the stage's single-thread time over
        # 1.36M matching docs.
        vd, vf = sloppy_freq_2slot_encoded(
            unions_g[0], unions_g[1], rels_c[0], rels_c[1], slop
        )
        if vd.size == 0:
            return _EMPTY_SCORED
        freqs[np.searchsorted(cand, vd)] = vf
    else:
        # sloppy, general case: the faithful SloppyPhraseScorer PQ walk
        # is inherently per-doc. Before looping, a VECTORIZED existence
        # prefilter drops docs that cannot match: a match needs every
        # slot within ``slop`` of the anchor slot's window, so for each
        # slot s take the nearest neighbor of every anchor key and keep
        # only docs where every slot passes (a conservative superset).
        # Skipped for repeated-term phrases where collision handling
        # can shift windows.
        walk_docs = cand
        if len(set(slot_keys)) == len(slot_keys) and len(slots_c) > 1:
            far = np.int64(1) << np.int64(40)
            a = unions_g[0] - np.int64(rels_c[0])
            live = None
            for u, r in zip(unions_g[1:], rels_c[1:]):
                b = u - np.int64(r)
                ir = np.searchsorted(b, a)
                nxt = np.where(ir < b.size, b[np.minimum(ir, b.size - 1)] - a, far)
                prv = np.where(ir > 0, a - b[np.maximum(ir - 1, 0)], far)
                near = np.minimum(nxt, prv) <= slop
                ok_docs = np.unique(a[near] >> KEY_SHIFT)
                live = ok_docs if live is None else np.intersect1d(
                    live, ok_docs, assume_unique=True
                )
                if live.size == 0:
                    return _EMPTY_SCORED
            walk_docs = live
        # per-doc slot positions via sorted-slice extraction; slice
        # boundaries computed for ALL walked docs at once
        w_idx = np.searchsorted(cand, walk_docs)
        bases = walk_docs << KEY_SHIFT
        nxt_bases = (walk_docs + 1) << KEY_SHIFT
        bounds = [
            (np.searchsorted(u, bases), np.searchsorted(u, nxt_bases))
            for u in unions_g
        ]
        for j, i in enumerate(w_idx):
            unions = []
            for u, (los, his) in zip(unions_g, bounds):
                if los[j] == his[j]:
                    break
                unions.append(u[los[j]:his[j]] - bases[j])
            else:
                freqs[i] = sloppy_phrase_freq(
                    unions, slop, offsets=rels_c, term_keys=slot_keys
                )
    m = freqs > 0
    if not m.any():
        return _EMPTY_SCORED
    s = sim.score(freqs[m], bp.norms[m], w32)
    return pd.DataFrame({"docid": cand[m] + bp.base, "score": s.astype(np.float32)})


def _f64_sql(x: float) -> str:
    """``x`` as a Spark SQL DOUBLE expression with the same bits. A
    plain decimal in SQL text is a DECIMAL literal; a ``D``-suffixed
    double literal of ``repr(x)`` is parsed exactly. inf and nan are
    cast from text."""
    x = float(x)
    if not np.isfinite(x):
        return f"CAST('{x}' AS DOUBLE)"
    return f"{x!r}D"


def _f32_sql(x: float) -> str:
    """``x`` rounded to float32, as a Spark SQL FLOAT expression with
    the same bits: a DECIMAL literal would turn the float32 fold it
    multiplies into DOUBLE arithmetic, and ``repr`` of a float32 value
    round-trips, so the cast of its exact double is exact."""
    return f"CAST({_f64_sql(np.float32(x))} AS FLOAT)"


# sum of the (cidx, score) structs of ``cs`` in cidx order, in float32
_F32_SUM = "aggregate(cs, CAST(0.0 AS FLOAT), (a, x) -> a + x.score)"


def combine_boolean_frames(
    pos: DataFrame, n_must: int, required_should: int, boost: float
) -> DataFrame:
    """Fold per-clause score frames (docid, cidx, kind, score) into
    boolean-scored docs: MUST count must equal ``n_must``, SHOULD count
    >= ``required_should``, any MUST_NOT row disqualifies; surviving
    clause scores are summed in clause-index order in float32 — the
    pinned deterministic summation (partition-count invariant). Shared
    by the single-index boolean scorer and the cross-field
    MultiFieldSearcher (where each clause frame comes from a different
    field's index).

    JVM-side float32 fold: Spark Add/Multiply on FloatType stays in
    Java float arithmetic, bit-identical to the numpy float32 ordered
    accumulation (``tests/test_combine_folds.py`` checks it over
    randomized clause lists), and keeps the whole combine inside
    whole-stage codegen, no Python stage. It is written as SQL text,
    a few py4j calls in place of one per Column node."""
    return (
        pos.groupBy("docid")
        .agg(
            F.expr("count_if(kind = 1) AS n_must"),
            F.expr("count_if(kind = 0) AS n_should"),
            F.expr("count_if(kind = -1) AS n_not"),
            F.expr(
                "sort_array(collect_list("
                "CASE WHEN kind >= 0 THEN struct(cidx, score) END)) AS cs"
            ),
        )
        .where(
            f"n_must = {int(n_must)} AND n_should >= {int(required_should)}"
            " AND n_not = 0"
        )
        .selectExpr("docid", f"{_F32_SUM} * {_f32_sql(boost)} AS score")
    )


def combine_dismax_frames(pos: DataFrame, tie_breaker: float, boost: float) -> DataFrame:
    """Fold per-disjunct score frames (docid, cidx, score) with the
    DisjunctionMaxQuery rule max + tie*(sum-max) in float32, clause
    scores visited in cidx order (``DisjunctionMaxQuery.cs:69-77``).

    The same JVM float32 fold as :func:`combine_boolean_frames`: the
    sum runs in cidx order, the max is order-free, and
    ``greatest(·, 0f)`` keeps the scorer's zero-initialized running max
    for (theoretical) all-negative scores."""
    mx = "greatest(array_max(transform(cs, x -> x.score)), CAST(0.0 AS FLOAT))"
    return (
        pos.groupBy("docid")
        .agg(F.expr("sort_array(collect_list(struct(cidx, score))) AS cs"))
        .selectExpr(
            "docid",
            f"({mx} + ({_F32_SUM} - {mx}) * {_f32_sql(tie_breaker)})"
            f" * {_f32_sql(boost)} AS score",
        )
    )


def explain_boolean(q: BooleanQuery, kids: list[dict]) -> dict:
    """Explain node of boolean ``q`` from its clauses' explain nodes
    ``kids`` (clause order): the match rule and the clause-order float32
    fold that :func:`combine_boolean_frames` executes. Shared by the
    single-index and the cross-field explain."""
    acc = np.float32(0.0)
    ok, n_should = True, 0
    for c, kn in zip(q.clauses, kids):
        kn["occur"] = c.occur.value
        if c.occur == Occur.MUST_NOT:
            if kn["match"]:
                ok = False
            continue
        if c.occur == Occur.MUST and not kn["match"]:
            ok = False
        if kn["match"]:
            if c.occur == Occur.SHOULD:
                n_should += 1
            acc = np.float32(acc + np.float32(kn["value"]))
    must = any(c.occur == Occur.MUST for c in q.clauses)
    required_should = max(q.minimum_number_should_match, 0 if must else 1)
    match = ok and n_should >= required_should
    val = float(np.float32(acc * np.float32(q.boost))) if match else 0.0
    return {"type": "boolean", "match": match, "value": val, "clauses": kids}


def explain_dismax(q: DisjunctionMaxQuery, kids: list[dict]) -> dict:
    """Explain node of dismax ``q`` from its disjuncts' explain nodes
    ``kids`` (disjunct order == cidx order): max + tie*(sum-max) in
    float32, as :func:`combine_dismax_frames` executes it."""
    matched = [k for k in kids if k["match"]]
    if not matched:
        return {"type": "dismax", "match": False, "value": 0.0, "clauses": kids}
    mx, acc = np.float32(0.0), np.float32(0.0)
    for k in matched:
        s = np.float32(k["value"])
        acc = np.float32(acc + s)
        if s > mx:
            mx = s
    val = np.float32(
        (mx + np.float32(acc - mx) * np.float32(q.tie_breaker)) * np.float32(q.boost)
    )
    return {"type": "dismax", "match": True, "value": float(val),
            "tie_breaker": q.tie_breaker, "clauses": kids}


def _pure_term_disjunction(q: Query) -> list[str] | None:
    """Terms of a pure SHOULD-of-TermQuery disjunction (the rewrite
    shape of prefix/wildcard/range expansions), else None."""
    if isinstance(q, TermQuery):
        return [q.term]
    if (
        isinstance(q, BooleanQuery)
        and q.minimum_number_should_match <= 1
        and all(
            c.occur == Occur.SHOULD and isinstance(c.query, TermQuery)
            for c in q.clauses
        )
    ):
        return [c.query.term for c in q.clauses]
    return None


