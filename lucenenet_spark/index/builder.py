"""Distributed inverted-index builder — the Spark rebuild of the
IndexWriter write path (reference trace: SURVEY.md §3.1).

Pipeline (all DataFrame/Arrow, no per-row Python):

1. **docid assignment** — deterministic total order so distributed
   results are rank-identical to a single-node oracle (the reference
   assigns arrival-order segment-local ids + docBase,
   ``Index/DocumentsWriterPerThread.cs``; we pin a total order on the
   corpus instead, SURVEY.md §1.4).
2. **inversion + packing, fused** — ONE ``mapInPandas`` stage per
   partition does tokenize → per-term in-RAM posting accumulation →
   delta+varbyte block packing, and emits BOTH the packed posting
   blocks and the doc-level rows (field_length, norm byte, sha256,
   meta). Each partition is a DocumentsWriterPerThread: a
   share-nothing in-RAM segment flushed as immutable packed blocks
   (``Index/DocumentsWriterPerThread.cs:509``). There is NO packing
   shuffle at all — blocks are keyed by (term, docid-bucket,
   first-docid-offset), docid-disjoint across partitions by
   construction, so per-partition block sets union into the full
   posting list with no merge pass (the tiered-merge machinery the
   reference needs is designed away). Skewed terms are bounded the
   same way: a term in every doc still produces ≤ partition-local
   blocks, never a hot reducer.
3. **stats** — ``term_stats(term, df, ttf)`` is a pure JVM aggregate
   over block METADATA (sum(count), sum(sum_freq)) — a few rows per
   (term, partition), no posting decode; corpus stats likewise from
   doc rows. This is the distributed ``TermContext.Build`` /
   ``CollectionStatistics`` (``Search/IndexSearcher.cs:1070-1116``)
   computed once at build time and broadcast at query time.

At 100 TB the only wide operations are the docid range-bucket
exchange (step 1) and the tiny metadata aggregates (step 3); raw
tokens and posting payloads never cross a shuffle. Partition RAM
budget = one partition's postings (~2-3× its input bytes) — size
``spark.sql.files.maxPartitionBytes`` accordingly, exactly like the
reference's 16 MB DWPT RAM buffer (``IndexWriterConfig.cs:90``).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucenenet_spark.analysis.analyzer import analyze
from lucenenet_spark.analysis.ngrams import edge_field_length, edge_ngrams
from lucenenet_spark.analysis.shingles import add_shingles
from lucenenet_spark.analysis.synonyms import inject_synonyms
from lucenenet_spark.functions.smallfloat import norm_byte_from_length
from lucenenet_spark.index.postings import PACKED_SCHEMA, pack_blocks, read_postings


@dataclass(frozen=True)
class CorpusSpec:
    """How to read a corpus table.

    ``id_col``: existing unique integer docid column (used as-is).
    ``order_cols``: when ``id_col`` is None, docids are assigned by
    ``row_number() over (order by order_cols)`` - 1 — the pinned total
    order making distributed output comparable to the oracle.
    """

    text_col: str = "content"
    id_col: str | None = None
    order_cols: tuple[str, ...] = ("repo", "path", "commit")
    meta_cols: tuple[str, ...] = ()
    # append a PorterStemFilter to the analysis pipeline
    # (EnglishAnalyzer role); queries must stem their terms too
    stem: bool = False
    # Snowball stemming for a named language ("de"/"fr"/"es"/"it"/
    # "ru"; SnowballFilter role, Analysis/Snowball/SnowballFilter
    # .cs:30) with the Unicode tokenizer from analysis/snowball.py —
    # no stop filter (empty stop set), positions gap-free. Queries
    # must stem their terms with snowball_stem(lang). Exclusive with
    # every other analysis flag (incl. ascii_fold, which would strip
    # the accents the stemmers read).
    stem_lang: "str | None" = None
    # CJK bigram tokenization (CJKAnalyzer role); exclusive with stem
    cjk: bool = False
    # index-time synonym injection (SynonymFilter role): the frozen
    # form from analysis.synonyms.synonym_map — injected terms share
    # the source token's position and do NOT count toward
    # field_length/norms (discountOverlaps, BM25Similarity.cs:133)
    synonyms: "tuple[tuple[str, tuple[str, ...]], ...] | None" = None
    # word-shingle emission (ShingleFilter role): max shingle size
    # (2 = unigrams+bigrams). Shingles sit at their leading token's
    # position and are overlap tokens (excluded from norms). Applied
    # to the base token stream BEFORE synonym injection.
    shingle_size: "int | None" = None
    # edge n-grams (EdgeNGramTokenFilter role): (min_gram, max_gram).
    # REPLACES tokens with their prefix grams (autocomplete index);
    # norms count source tokens with >= 1 gram. Exclusive with
    # shingles/synonyms (the filter replaces the stream).
    edge_ngram: "tuple[int, int] | None" = None
    # ReverseStringFilter role (Analysis.Common/Analysis/Reverse/
    # ReverseStringFilter.cs:34): REPLACES every token with its
    # reversed characters. The canonical use is a reversed companion
    # index that turns a leading wildcard (*suffix — otherwise a full
    # dictionary regex scan) into a PrefixQuery on the reversed terms,
    # which prunes on the dictionary's term sort order at scale.
    # Positions/norms are unchanged. Exclusive with the stream-shaping
    # filters (shingles/synonyms/edge_ngram).
    reverse: bool = False
    # CommonGramsFilter role (Analysis/CommonGrams/CommonGramsFilter
    # .cs:40, analysis/commongrams.py): adds stopword-adjacent bigram
    # overlap terms so phrases over very common words become single
    # rare-term lookups. Exclusive with the other analyzers.
    common_grams: bool = False
    # DelimitedPayloadTokenFilter role (Analysis/Payloads/
    # DelimitedPayloadTokenFilter.cs:30 over a whitespace tokenizer):
    # each whitespace chunk is 'term|payload' (payload float32,
    # PayloadHelper.EncodeSingle); chunks without the delimiter carry
    # payload 1.0 (the scorers' default for a missing payload). The
    # chunk index IS the position (one position per whitespace token,
    # stop/length-filtered chunks leave gaps). Exclusive with the
    # other analyzers.
    payload_delim: "str | None" = None
    # ASCIIFoldingFilter role (Analysis/Miscellaneous/
    # ASCIIFoldingFilter.cs:36, Latin-1 + Latin Ext-A subset,
    # analysis/folding.py): fold accents to ASCII BEFORE tokenization
    # (JVM translate/replace — zero Python cost). Composes with every
    # other flag. NOTE: content_sha256 is computed over the FOLDED text.
    ascii_fold: bool = False
    # NGramTokenFilter role (Analysis/NGram/NGramTokenFilter.cs:53,
    # analysis/ngrams.py::ngrams): (min_gram, max_gram) — REPLACES
    # every token with ALL its contiguous n-grams (infix-substring
    # index); norms count source tokens with >= 1 gram, like
    # edge_ngram. Exclusive with the other stream-shaping filters.
    ngram: "tuple[int, int] | None" = None
    # code-aware sub-word splitting (WordDelimiterFilter role,
    # analysis/worddelim.py): the pinned boundary chain runs JVM-side
    # on the raw text BEFORE the standard pipeline, so "getUserName_42"
    # indexes as get/user/name/42. Composes with stem/synonyms/
    # shingles (it is a text transform, not a token filter). NOTE:
    # content_sha256 is then computed over the TRANSFORMED text.
    code: bool = False
    # LimitTokenCountFilter role (Analysis/Miscellaneous/
    # LimitTokenCountFilter.cs:29, consumeAllTokens=false): index only
    # the first N EMITTED tokens per document (post stop-filter, gaps
    # preserved); field_length/norms count the kept tokens. The
    # canonical 100 TB use: cap pathological documents so one giant
    # doc cannot skew a partition's posting payload. Composes with
    # stem; exclusive with the stream-shaping filters.
    max_tokens: "int | None" = None
    # LengthFilter role (Analysis/Miscellaneous/LengthFilter.cs:30,
    # enablePositionIncrements=true): keep only tokens whose length is
    # in [min, max]; removed tokens leave POSITION GAPS (unlike the
    # built-in 255-char tokenizer cap, which drops before numbering).
    # norms count kept tokens. Applied before max_tokens. Composes
    # with stem; exclusive with the stream-shaping filters.
    token_length: "tuple[int, int] | None" = None
    # Full UAX#29 ASCII word-break rules (StandardTokenizerImpl.cs DFA
    # parity for the ASCII Mid* classes): "4,600", "A:B", "A.B" stay
    # whole per the TestStandardAnalyzer.cs:254-298 TestMid fixtures.
    # The DEFAULT tokenizer stays bit-frozen (every standing oracle
    # embeds its pinned pattern); this flag swaps the base tokenizer
    # wholesale, so it is exclusive with every other analysis flag.
    uax29: bool = False
    # JapaneseTokenizer (Kuromoji) role (analysis/japanese.py):
    # min-cost lattice segmentation over the pinned compact vocabulary
    # for CJK runs, standard ASCII rules for the rest; NO stop filter
    # (the reference JapaneseAnalyzer carries its own Japanese stop
    # set). Exclusive with every other analysis flag.
    ja: bool = False
    # SmartChineseAnalyzer role (analysis/chinese.py): min-cost
    # word-DAG segmentation over the pinned Simplified-Chinese
    # vocabulary (HHMMSegmenter.cs shortest path). Exclusive with
    # every other analysis flag.
    zh: bool = False
    # OpenNLP role (analysis/opennlp_role.py): pinned rule-based
    # sentence detection + POS tagging (OpenNLPTokenizer.cs /
    # OpenNLPPOSFilter.cs — the trained maxent models are out of
    # scope), indexing only tokens whose tag is in this keep set
    # (TypeTokenFilter consumer). Removed tokens leave position gaps
    # and do not count toward norms. Exclusive with every other
    # analysis flag.
    opennlp_keep: "tuple[str, ...] | None" = None
    # ICUTransformFilter role (analysis/icu_transform.py): a
    # transliterator ID ("Any-Latin", "Traditional-Simplified",
    # "Fullwidth-Halfwidth", compound "A; B", ...) applied per token
    # after the standard tokenizer (the reference TokenFilter
    # position, ICUTransformFilter.cs); NO stop filter. Exclusive
    # with every other analysis flag.
    translit: "str | None" = None

    def validate(self) -> None:
        """Reject an exclusive combination of analysis flags, an unknown
        ``stem_lang`` (KeyError) or an unknown ``translit`` ID — on the
        driver, before any Spark job runs."""
        on = {
            f for f in _ANALYSIS_FLAGS
            if getattr(self, f) is not None and getattr(self, f) is not False
        }
        for flag, excludes, message in _EXCLUSIVE_FLAGS:
            if flag in on and on & (set(excludes or _ANALYSIS_FLAGS) - {flag}):
                raise ValueError(message)
        if self.stem_lang is not None:
            from lucenenet_spark.analysis.snowball import snowball_stem

            snowball_stem(self.stem_lang)
        if self.translit is not None:
            from lucenenet_spark.analysis.icu_transform import get_transform

            get_transform(self.translit)


_ANALYSIS_FLAGS = (
    "stem", "stem_lang", "cjk", "synonyms", "shingle_size", "edge_ngram",
    "reverse", "common_grams", "payload_delim", "ascii_fold", "ngram", "code",
    "max_tokens", "token_length", "uax29", "ja", "zh", "opennlp_keep",
    "translit",
)
_STREAM_FLAGS = (
    "synonyms", "shingle_size", "edge_ngram", "reverse", "payload_delim",
    "common_grams", "ngram",
)
_SWAPS = "it is exclusive with the other analysis flags"
# (flag, flags it excludes — None: every other analysis flag, message),
# checked in order by CorpusSpec.validate
_EXCLUSIVE_FLAGS = (
    ("stem", ("cjk",), "stem and cjk analyzers are mutually exclusive"),
    ("uax29", None, f"uax29 swaps the base tokenizer; {_SWAPS}"),
    ("ja", None, f"ja swaps the analysis pipeline; {_SWAPS}"),
    ("zh", None, f"zh swaps the analysis pipeline; {_SWAPS}"),
    ("opennlp_keep", None, f"opennlp_keep swaps the analysis pipeline; {_SWAPS}"),
    ("translit", None, f"translit swaps the analysis pipeline; {_SWAPS}"),
    ("stem_lang", None, f"stem_lang replaces the analysis pipeline; {_SWAPS}"),
    (
        "max_tokens", ("cjk",) + _STREAM_FLAGS,
        "max_tokens truncates the base emitted stream; it composes with stem only",
    ),
    (
        "token_length", ("cjk",) + _STREAM_FLAGS,
        "token_length filters the base emitted stream; it composes with stem only",
    ),
    (
        "edge_ngram", ("shingle_size", "synonyms"),
        "edge_ngram replaces the token stream; it cannot combine with shingles/synonyms",
    ),
    (
        "reverse", ("edge_ngram", "shingle_size", "synonyms"),
        "reverse is exclusive with shingles/synonyms/edge_ngram",
    ),
    (
        "payload_delim",
        ("stem", "cjk", "synonyms", "shingle_size", "edge_ngram", "reverse"),
        f"payload_delim uses the whitespace+delimiter analyzer; {_SWAPS}",
    ),
    (
        "common_grams",
        ("stem", "cjk", "synonyms", "shingle_size", "edge_ngram", "reverse",
         "payload_delim"),
        "common_grams is exclusive with the other analysis flags",
    ),
    (
        "ngram", _STREAM_FLAGS,
        "ngram replaces the token stream; it cannot combine with the other"
        " stream-shaping filters",
    ),
)


def _ordered_with_offsets(
    corpus: DataFrame, spec: CorpusSpec, partitions: int | None = None
) -> tuple[DataFrame, dict[int, int]]:
    """Range-bucket + sort the corpus by the pinned order columns with
    VALUE-DETERMINISTIC bucket ids, and compute per-bucket docid
    offsets (prefix sums of bucket row counts — one tiny collect).

    Spark's own ``repartitionByRange`` samples with a per-execution
    seed, so two jobs over the same plan can disagree on partition
    boundaries — fatal here, because the offsets collected in the
    counts job must describe exactly the buckets the main job sees
    (observed in practice: overlapping docid ranges → duplicate
    postings). Instead we sample order keys ONCE (deterministic
    every-k-th-row sample), freeze quantile boundaries driver-side,
    and compute ``__pid = bisect(boundaries, key)`` as a pure function
    of the row's values. Every job then agrees on bucket membership
    and within-bucket order no matter how Spark schedules or
    re-executes it, which also makes docids invariant to cluster size
    (the north rule's N vs 4N run) and to task retries at 100 TB.

    Downstream workers assign ``docid = offset[__pid] + local_rank``
    inline, fused into whatever per-partition work they already do:
    chaining a separate assignment mapInPandas in front of the
    tokenizer would pipe every content byte JVM→Python→JVM→Python
    (measured 4-10× slower than one fused Python stage).
    """
    order_cols = list(spec.order_cols)
    # 2 partitions per core: the tokenize stage downstream has ragged
    # per-doc cost (long-tail doc lengths), and finer tasks keep all
    # cores busy instead of waiting on stragglers
    parts = partitions or 2 * corpus.sparkSession.sparkContext.defaultParallelism
    keys = corpus.select(*order_cols)

    def sample_keys(iterator):
        for pdf in iterator:
            step = max(1, len(pdf) // 64)
            yield pdf.iloc[::step]

    sampled = sorted(
        tuple(r) for r in keys.mapInPandas(sample_keys, schema=keys.schema).collect()
    )
    # 4 buckets per partition: hash placement of buckets onto
    # partitions then balances within ~25% instead of 2-3×
    n_buckets = parts * 4
    boundaries = (
        [sampled[(len(sampled) * i) // n_buckets] for i in range(1, n_buckets)]
        if sampled
        else []
    )

    @F.pandas_udf("int")
    def pid_of(*cols: pd.Series) -> pd.Series:
        import bisect

        out = np.empty(len(cols[0]), dtype=np.int32)
        for i, tup in enumerate(zip(*cols)):
            out[i] = bisect.bisect_right(boundaries, tup)
        return pd.Series(out)

    ordered = (
        corpus.withColumn("__pid", pid_of(*[F.col(c) for c in order_cols]))
        .repartition(parts, "__pid")
        .sortWithinPartitions(*order_cols)
    )
    counts = {
        r["__pid"]: r["cnt"]
        for r in ordered.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    base = 0
    for pid in sorted(counts):
        offsets[pid] = base
        base += counts[pid]
    return ordered, offsets


def _assign_ids_in_batches(iterator, offsets: dict[int, int]):
    """Shared docid assignment: yields (pdf, docids). A physical
    partition may hold several __pid buckets (hash(pid) → partition);
    rows arrive sorted by the order columns, buckets contiguous, so a
    per-bucket running counter gives the within-bucket rank."""
    local: dict[int, int] = {}
    for pdf in iterator:
        if len(pdf) == 0:
            continue
        pids = pdf["__pid"].to_numpy()
        ids = np.empty(len(pdf), dtype=np.int64)
        for pid in np.unique(pids):
            m = pids == pid
            cnt = int(m.sum())
            start = local.get(int(pid), 0)
            ids[m] = offsets.get(int(pid), 0) + start + np.arange(cnt, dtype=np.int64)
            local[int(pid)] = start + cnt
        yield pdf, ids


_DOC_FIELDS = [
    T.StructField("docid", T.LongType()),
    T.StructField("field_length", T.IntegerType()),
    T.StructField("norm", T.IntegerType()),  # 0..255 norm byte
    T.StructField("content_sha256", T.StringType()),
]


def _segment_schema(meta_fields: list[T.StructField]) -> T.StructType:
    """Union schema of the fused segment-writer output: packed posting
    block rows (``term`` NOT NULL) + doc-level rows (``term`` NULL).
    Meta fields are forced nullable regardless of the source schema:
    posting rows carry NULL meta, so a non-nullable source column
    (e.g. the ``_metadata.file_path`` metadata column) would otherwise
    NPE inside the JVM when the fused output is cached/serialized."""
    meta_nullable = [
        T.StructField(f.name, f.dataType, True) for f in meta_fields
    ]
    return T.StructType(
        list(PACKED_SCHEMA.fields) + _DOC_FIELDS + meta_nullable
    )


class _SegmentWriter:
    """Partition-local in-RAM segment (the DWPT analog): accumulates
    per-term postings across the partition's Arrow batches, then
    flushes them through the codec's block packer
    (:func:`~lucenenet_spark.index.postings.pack_blocks`) plus the
    doc-level rows — all inside one Python stage, no shuffle."""

    def __init__(self, spec: CorpusSpec, meta_cols: list[str]):
        # flag combinations were checked by spec.validate() on the driver
        self.meta_cols = meta_cols
        if spec.translit is not None:
            from lucenenet_spark.analysis.icu_transform import (
                make_transform_analyzer,
            )

            self.analyze = make_transform_analyzer(spec.translit)
        elif spec.opennlp_keep is not None:
            from lucenenet_spark.analysis.opennlp_role import (
                make_opennlp_analyzer,
            )

            self.analyze = make_opennlp_analyzer(spec.opennlp_keep)
        elif spec.stem_lang is not None:
            from lucenenet_spark.analysis.snowball import make_snowball_analyzer

            self.analyze = make_snowball_analyzer(spec.stem_lang)
        elif spec.stem:
            from lucenenet_spark.analysis.analyzer import analyze_stemmed

            self.analyze = analyze_stemmed
        elif spec.cjk:
            from lucenenet_spark.analysis.analyzer import analyze_cjk

            self.analyze = analyze_cjk
        elif spec.uax29:
            from lucenenet_spark.analysis.analyzer import analyze_uax29

            self.analyze = analyze_uax29
        elif spec.ja:
            from lucenenet_spark.analysis.japanese import analyze_ja

            self.analyze = analyze_ja
        elif spec.zh:
            from lucenenet_spark.analysis.chinese import analyze_zh

            self.analyze = analyze_zh
        else:
            self.analyze = analyze
        self.synonyms = dict(spec.synonyms) if spec.synonyms else None
        self.shingle_size = spec.shingle_size
        self.edge_ngram = spec.edge_ngram
        self.reverse = spec.reverse
        self.payload_delim = spec.payload_delim
        self.common_grams = spec.common_grams
        self.ngram = spec.ngram
        self.max_tokens = spec.max_tokens
        self.token_length = spec.token_length
        # term -> (docids, freqs, norm_bytes, positions-per-doc,
        #          payloads-per-doc or None)
        self.terms: dict[str, tuple[list, list, list, list, list]] = {}
        self.doc_ids: list[int] = []
        self.doc_fl: list[int] = []
        self.doc_norm: list[int] = []
        self.doc_sha: list[str] = []
        self.meta: dict[str, list] = {c: [] for c in meta_cols}

    def add_batch(self, texts: list[str], ids, metas: dict[str, list]) -> None:
        if self.payload_delim is not None:
            self._add_batch_payload(texts, ids, metas)
            return
        fls = np.zeros(len(texts), dtype=np.int64)
        per_doc: list[dict[str, list[int]]] = []
        for i, text in enumerate(texts):
            if self.common_grams:
                from lucenenet_spark.analysis.commongrams import (
                    analyze_common_grams,
                )

                tri = analyze_common_grams(text)
                # bigrams are overlap tokens — excluded from norms
                fls[i] = sum(1 for _, _, ov in tri if not ov)
                pairs = [(t, p) for t, p, _ in tri]
            else:
                pairs = self.analyze(text)
                # field_length counts BASE tokens only — injected synonyms
                # are posIncrement-0 overlaps, discounted from norms
                # (discountOverlaps, BM25Similarity.cs:133)
                if self.token_length is not None:
                    # LengthFilter: drop out-of-range tokens, keep
                    # their position gaps; norms count kept tokens
                    lo, hi = self.token_length
                    pairs = [(t, p) for t, p in pairs if lo <= len(t) <= hi]
                if self.max_tokens is not None and len(pairs) > self.max_tokens:
                    # LimitTokenCountFilter: keep the first N emitted
                    # tokens; norms count what was indexed
                    pairs = pairs[: self.max_tokens]
                fls[i] = len(pairs)
            if self.edge_ngram is not None:
                lo, hi = self.edge_ngram
                fls[i] = edge_field_length(pairs, lo)
                pairs = edge_ngrams(pairs, lo, hi)
            if self.ngram is not None:
                from lucenenet_spark.analysis.ngrams import ngrams

                lo, hi = self.ngram
                fls[i] = edge_field_length(pairs, lo)
                pairs = ngrams(pairs, lo, hi)
            if self.shingle_size is not None:
                pairs = add_shingles(pairs, self.shingle_size)
            if self.synonyms is not None:
                pairs = inject_synonyms(pairs, self.synonyms)
            if self.reverse:
                # ReverseStringFilter.cs:34 — reverse characters, keep
                # position and field_length
                pairs = [(t[::-1], p) for t, p in pairs]
            agg: dict[str, list[int]] = {}
            for term, pos in pairs:
                agg.setdefault(term, []).append(pos)
            per_doc.append(agg)
        norms = norm_byte_from_length(fls)
        for i, agg in enumerate(per_doc):
            docid, nb = int(ids[i]), int(norms[i])
            for term, positions in agg.items():
                acc = self.terms.get(term)
                if acc is None:
                    acc = self.terms[term] = ([], [], [], [], [])
                acc[0].append(docid)
                acc[1].append(len(positions))
                acc[2].append(nb)
                acc[3].append(positions)
            self.doc_ids.append(docid)
            self.doc_fl.append(int(fls[i]))
            self.doc_norm.append(nb)
            self.doc_sha.append(hashlib.sha256(texts[i].encode("utf-8")).hexdigest())
        for c in self.meta_cols:
            self.meta[c].extend(metas[c])

    def _add_batch_payload(self, texts, ids, metas) -> None:
        """DelimitedPayloadTokenFilter path: per-(doc, term) positions
        AND float32 payloads accumulate in lockstep."""
        from lucenenet_spark.analysis.analyzer import analyze_delimited

        for i, text in enumerate(texts):
            triples = analyze_delimited(text, self.payload_delim)
            agg: dict[str, tuple[list[int], list[float]]] = {}
            for term, pos, payload in triples:
                slot = agg.setdefault(term, ([], []))
                slot[0].append(pos)
                slot[1].append(payload)
            fl = len(triples)
            nb = int(norm_byte_from_length(np.array([fl], dtype=np.int64))[0])
            docid = int(ids[i])
            for term, (positions, payloads) in agg.items():
                acc = self.terms.get(term)
                if acc is None:
                    acc = self.terms[term] = ([], [], [], [], [])
                acc[0].append(docid)
                acc[1].append(len(positions))
                acc[2].append(nb)
                acc[3].append(positions)
                acc[4].append(payloads)
            self.doc_ids.append(docid)
            self.doc_fl.append(fl)
            self.doc_norm.append(nb)
            self.doc_sha.append(hashlib.sha256(text.encode("utf-8")).hexdigest())
        for c in self.meta_cols:
            self.meta[c].extend(metas[c])

    def flush(self) -> pd.DataFrame:
        # a term's payload list stays empty without a payload analyzer
        out = pack_blocks(
            (term, dl, fl_, nl, pl, yl or None)
            for term, (dl, fl_, nl, pl, yl) in self.terms.items()
        )
        n_blocks = len(out)
        n_docs = len(self.doc_ids)
        out["docid"] = pd.array([None] * n_blocks, dtype="Int64")
        out["field_length"] = pd.array([None] * n_blocks, dtype="Int32")
        out["norm"] = pd.array([None] * n_blocks, dtype="Int32")
        out["content_sha256"] = [None] * n_blocks
        for c in self.meta_cols:
            out[c] = [None] * n_blocks
        docs = pd.DataFrame(
            {
                **{f.name: [None] * n_docs for f in PACKED_SCHEMA.fields},
                "docid": pd.array(self.doc_ids, dtype="int64"),
                "field_length": pd.array(self.doc_fl, dtype="int32"),
                "norm": pd.array(self.doc_norm, dtype="int32"),
                "content_sha256": self.doc_sha,
                **{c: self.meta[c] for c in self.meta_cols},
            }
        )
        return pd.concat([out, docs], ignore_index=True)


def _segment_gen(offsets: dict[int, int] | None, meta_cols: list[str], spec: CorpusSpec):
    """mapInPandas worker: whole partition -> packed blocks + doc rows.
    With ``offsets``: docids assigned inline (fused, one Python hop);
    without: batches carry a ``docid`` column (id_col path)."""

    def gen(iterator):
        w = _SegmentWriter(spec, meta_cols)
        if offsets is None:
            for pdf in iterator:
                w.add_batch(
                    pdf["__text"].fillna("").tolist(),
                    pdf["docid"].to_numpy(),
                    {c: pdf[c].tolist() for c in meta_cols},
                )
        else:
            for pdf, ids in _assign_ids_in_batches(iterator, offsets):
                w.add_batch(
                    pdf["__text"].fillna("").tolist(),
                    ids,
                    {c: pdf[c].tolist() for c in meta_cols},
                )
        yield w.flush()

    return gen


def _project_docids(offsets: dict[int, int], cols: list[str]):
    """mapInPandas worker: ordered corpus partition -> (docid, cols...)."""

    def gen(iterator):
        for pdf, ids in _assign_ids_in_batches(iterator, offsets):
            out = pdf[cols].copy()
            out.insert(0, "docid", ids)
            yield out

    return gen


@dataclass
class InvertedIndex:
    """Handle to the built index tables.

    ``docs``:       docid, <meta…>, field_length, norm, content_sha256
    ``packed``:     128-doc delta+varbyte blocks with block metadata
    ``term_stats``: term, df, ttf
    ``max_doc`` / ``sum_total_term_freq``: corpus scalars (broadcast
    to every query — the CollectionStatistics analog).

    Flat per-(docid, term) rows come from :meth:`postings`, which
    decodes only the named terms' blocks.
    """

    docs: DataFrame
    packed: DataFrame
    term_stats: DataFrame
    max_doc: int
    sum_total_term_freq: int
    spec: CorpusSpec = field(default_factory=CorpusSpec)
    # the persisted segments frame docs and packed filter (a built or
    # compacted index; None for a loaded one)
    flat: DataFrame | None = None

    @property
    def avgdl_inputs(self) -> tuple[int, int]:
        return self.sum_total_term_freq, self.max_doc

    def postings(self, terms=None, docids=None, payloads: bool = False) -> DataFrame:
        """Flat (docid, term, freq, positions, norm[, payloads]) rows of
        ``terms`` and ``docids`` (every one when None), decoding only the
        blocks that can hold them
        (:func:`~lucenenet_spark.index.postings.read_postings`)."""
        return read_postings(self.packed, terms, docids, payloads)

    def cache(self) -> "InvertedIndex":
        # docs is a cheap filter over the already-persisted flat scan
        # when it exists; only cache what adds reuse value
        if self.flat is None:
            self.docs.cache()
        self.packed.cache()
        self.term_stats.cache()
        return self

    def unpersist(self) -> "InvertedIndex":
        for df in (self.flat, self.docs, self.packed, self.term_stats):
            if df is not None:
                df.unpersist()
        return self

    def save(self, path: str) -> None:
        """Persist as a parquet warehouse (Iceberg-shaped layout: the
        production deployment writes these same tables as Iceberg with
        snapshot commits; the sandbox has no Iceberg runtime jar). The
        one writer of an index directory: a fresh build, a re-save, a
        shard (build, append, AddIndexes, compaction) all land here.

        Three tables: ``segments`` (packed blocks plus doc rows, which
        carry ``term`` NULL), ``term_stats`` and the ``corpus_stats``
        scalars. ``segments`` is written in a SINGLE job, sorted by
        term within partitions so parquet row-group min/max stats give
        the "terms dictionary seek" (BlockTree analog) via pushdown;
        doc rows sort first. One big write instead of separate docs and
        packed passes halves the serial tail of the build (each extra
        write job costs fixed scheduler+commit time regardless of
        cluster size). A built index writes its persisted segment
        output; any other fuses its two frames by name.
        """
        segments = self.flat
        if segments is None:
            segments = self.packed.unionByName(self.docs, allowMissingColumns=True)
        segments.sortWithinPartitions("term", "bucket", "block_id").write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "segments"))
        self.term_stats.write.mode("overwrite").parquet(os.path.join(path, "term_stats"))
        self.term_stats.sparkSession.createDataFrame(
            [(self.max_doc, self.sum_total_term_freq)],
            "max_doc long, sum_total_term_freq long",
        ).write.mode("overwrite").parquet(os.path.join(path, "corpus_stats"))

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "InvertedIndex":
        """Open a saved index directory (:func:`read_index`)."""
        return read_index(spark, [path])


def read_segments(spark: SparkSession, dirs: list[str]) -> DataFrame:
    """The one reader: the fused ``segments`` table of one or more
    index directories (:meth:`InvertedIndex.save`)."""
    return spark.read.parquet(*[os.path.join(d, "segments") for d in dirs])


def split_segments(segments: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(docs, packed): the doc rows (``term`` NULL) and the posting
    blocks of a fused segments frame, as two filters of it."""
    packed_cols = [f.name for f in PACKED_SCHEMA.fields]
    fixed = set(packed_cols) | {f.name for f in _DOC_FIELDS}
    meta = [c for c in segments.columns if c not in fixed]
    docs = segments.where(F.col("term").isNull()).select(
        "docid", *meta, "field_length", "norm", "content_sha256"
    )
    return docs, segments.where(F.col("term").isNotNull()).select(*packed_cols)


def read_index(spark: SparkSession, dirs: list[str]) -> InvertedIndex:
    """Open one index directory, or the docid-disjoint shards of one
    index as a single logical index: the segments tables union (no
    merge), shard term_stats partials sum-merge (the distributed
    TermContext.Build) and the corpus scalars add up."""

    def table(name: str) -> DataFrame:
        return spark.read.parquet(*[os.path.join(d, name) for d in dirs])

    docs, packed = split_segments(read_segments(spark, dirs))
    term_stats = table("term_stats")
    if len(dirs) > 1:
        term_stats = term_stats.groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("ttf").alias("ttf")
        )
    corpus = table("corpus_stats").collect()
    return InvertedIndex(
        docs=docs,
        packed=packed,
        term_stats=term_stats,
        max_doc=sum(int(r["max_doc"]) for r in corpus),
        sum_total_term_freq=sum(int(r["sum_total_term_freq"]) for r in corpus),
    )


def index_segments(segments: DataFrame, spec: CorpusSpec | None = None) -> InvertedIndex:
    """Index handle over a fused segments frame, persisted so that the
    stats below, a later :meth:`InvertedIndex.save` and the queries
    share one computation of it. ``term_stats`` is a pure JVM aggregate
    over block METADATA (no posting decode); the corpus scalars are
    collected here."""
    segments = segments.persist()
    docs, packed = split_segments(segments)
    term_stats = packed.groupBy("term").agg(
        F.sum("count").alias("df"), F.sum("sum_freq").alias("ttf")
    )
    corpus_agg = docs.agg(
        F.count("*").alias("max_doc"),
        F.coalesce(F.sum("field_length"), F.lit(0)).alias("sttf"),
    ).collect()[0]
    return InvertedIndex(
        docs=docs,
        packed=packed,
        term_stats=term_stats,
        max_doc=int(corpus_agg["max_doc"]),
        sum_total_term_freq=int(corpus_agg["sttf"]),
        spec=spec or CorpusSpec(),
        flat=segments,
    )


def assign_docids(
    corpus: DataFrame, spec: CorpusSpec, partitions: int | None = None
) -> DataFrame:
    """Attach a deterministic ``docid`` column.

    With ``id_col``: use it directly. Otherwise **range-partitioned
    rank**: ``repartitionByRange`` on the pinned order columns +
    ``sortWithinPartitions``, a tiny per-partition count job, then a
    prefix-sum of partition offsets broadcast into a mapInPandas that
    numbers rows partition-locally. This is the scalable form of
    ``row_number() over (order by ...)`` — a plain global window
    funnels the whole corpus through ONE partition (the sort has no
    partitionBy), serializing tokenization downstream; here every
    partition stays parallel and the only driver state is one offset
    per partition. docids are the global rank in the total order, so
    they are identical for ANY partition count/boundaries (the order
    columns are a unique key) — the partition-count-invariance the
    north rule's two-cluster-size run depends on.

    Cost: two passes over the corpus (count + assign). At 10^12 rows
    both passes are embarrassingly parallel.
    """
    if spec.id_col:
        return corpus.withColumn("docid", F.col(spec.id_col).cast("long"))
    ordered, offsets = _ordered_with_offsets(corpus, spec, partitions)
    cols = [f.name for f in corpus.schema.fields]
    out_schema = T.StructType(
        [T.StructField("docid", T.LongType())] + list(corpus.schema.fields)
    )
    return ordered.mapInPandas(_project_docids(offsets, cols), schema=out_schema)


def verify_content_sha(
    corpus: DataFrame, index: InvertedIndex, spec: CorpusSpec | None = None
) -> tuple[int, int]:
    """Per-row invariant check (BASELINE.json input_hint): recompute
    ``sha256(content)`` from the source corpus and compare against the
    hash stored in the docs table at index time. Returns
    (n_docs, n_mismatch) — a full outer join so dropped or phantom
    docids count as mismatches too."""
    spec = spec or index.spec or CorpusSpec()
    with_ids = assign_docids(corpus, spec)
    fresh = with_ids.select(
        "docid",
        F.sha2(F.coalesce(F.col(spec.text_col), F.lit("")), 256).alias("__sha"),
    )
    joined = index.docs.select("docid", "content_sha256").join(fresh, "docid", "full")
    n_mismatch = joined.where(
        F.col("content_sha256").isNull()
        | F.col("__sha").isNull()
        | (F.col("content_sha256") != F.col("__sha"))
    ).count()
    return index.docs.count(), n_mismatch


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    spec: CorpusSpec | None = None,
    partitions: int | None = None,
) -> InvertedIndex:
    spec = spec or CorpusSpec()
    spec.validate()  # fail on the driver, not inside workers
    if spec.ascii_fold:
        from lucenenet_spark.analysis.folding import fold_col

        corpus = corpus.withColumn(spec.text_col, fold_col(F.col(spec.text_col)))
    if spec.code:
        # WDF boundary chain as a JVM regexp_replace column transform —
        # stays inside whole-stage codegen, zero extra Python cost
        from lucenenet_spark.analysis.worddelim import code_split_col

        corpus = corpus.withColumn(
            spec.text_col, code_split_col(F.col(spec.text_col))
        )
    meta = [
        c for c in spec.meta_cols if c in corpus.columns and c != spec.text_col
    ]
    field_by_name = {f.name: f for f in corpus.schema.fields}
    schema = _segment_schema([field_by_name[c] for c in meta])

    # ONE corpus scan, ONE Python stage: tokenize + invert + pack
    # emits packed posting blocks AND doc-level rows per partition
    # (the DWPT segment flush) — no packing shuffle, no second pass,
    # no docid join to reattach norms
    if spec.id_col:
        with_ids = corpus.withColumn("docid", F.col(spec.id_col).cast("long"))
        flat_all = with_ids.select(
            "docid", F.col(spec.text_col).alias("__text"), *meta
        ).mapInPandas(
            _segment_gen(None, meta, spec),
            schema=schema,
        )
    else:
        # no pre-existing id: range-partitioned total order, with docid
        # assignment FUSED into the tokenize stage (a separate
        # assignment mapInPandas would double the JVM<->Python hops for
        # every content byte)
        ordered, offsets = _ordered_with_offsets(corpus, spec, partitions)
        flat_all = ordered.select(
            "__pid", F.col(spec.text_col).alias("__text"), *meta
        ).mapInPandas(
            _segment_gen(offsets, meta, spec),
            schema=schema,
        )
    return index_segments(flat_all, spec)
