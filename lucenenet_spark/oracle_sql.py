"""DuckDB oracle-SQL generator — ANSI-SQL mirrors of the Spark engine.

The driver's correctness gate runs each Spark query side-by-side with
a DuckDB SQL string over the same parquet tables and hash-compares the
values. BM25 scores are float32 in the engine (reference parity,
``BM25Similarity.cs:254-264``), so the SQL here emulates the *exact*
float32 arithmetic:

- DuckDB ``REAL`` ops (``+ - * /``) are true IEEE float32 and verified
  bit-equal to numpy float32 for the score pipeline ``w*f/(f+c)``.
- The SmallFloat norm byte (``Util/SmallFloat.cs:146-159``) is
  recovered as ``max b such that decode(b) <= 1f/float32(sqrt(fl))``
  over an inlined 255-row decode table — truncating float-to-tiny-float
  conversion is exactly "largest representable value <= x", verified
  bit-equal to the numpy encoder for fl in [1, 1e6].
- ``NORM_TABLE``/cache (``BM25Similarity.cs:143-154,226-231``) is the
  inlined 256-entry table with the freq-independent part computed in
  REAL arithmetic in the same operation order as
  :mod:`lucenenet_spark.functions.bm25`.
- idf: double ``ln`` then truncate to REAL — numpy's ``log1p`` and
  DuckDB's ``ln(1+x)`` can differ in the last double ulp but agree
  after float32 truncation (verified over the df range).

Every generated query is a self-contained WITH block over the
driver-registered ``documents`` view (columns doc_id, text, lang,
source, n_chars).
"""

from __future__ import annotations

import numpy as np

from lucenenet_spark.analysis.analyzer import TOKEN_PATTERN, duckdb_token_sql
from lucenenet_spark.functions.smallfloat import NORM_TABLE, byte315_to_float

K = 10  # headline top-k


def _f32_lit(v: float) -> str:
    """A SQL literal that parses to exactly this float32 value."""
    f = float(np.float32(v))
    if np.isinf(f):
        return "CAST('infinity' AS REAL)"
    return f"CAST('{f!r}' AS REAL)"


def _norm_decode_values() -> str:
    dec = byte315_to_float(np.arange(256, dtype=np.uint8))
    return ",".join(f"({b}, {_f32_lit(float(dec[b]))})" for b in range(1, 256))


def _norm_table_values() -> str:
    return ",".join(f"({b}, {_f32_lit(float(NORM_TABLE[b]))})" for b in range(256))


# Shared CTE prefix: tokenization -> postings -> doc lengths -> norm
# bytes -> corpus stats -> term stats -> per-norm-byte cache.
def bm25_prelude(
    with_positions: bool = False,
    synonyms=None,
    shingles: int | None = None,
    edge_ngram: tuple[int, int] | None = None,
    ngram: tuple[int, int] | None = None,
    source: str = "documents",
    limit_tokens: int | None = None,
    length_range: tuple[int, int] | None = None,
    token_pattern: str | None = None,
) -> str:
    """With ``synonyms`` (the frozen analysis.synonyms map form), the
    token relation is augmented with injected (synonym, same-pos) rows
    — duplicates collapsed. With ``shingles`` = N, word shingles of
    sizes 2..N are added at their leading token's position, with the
    ``_`` filler for stop-gap holes and no shingle past the last real
    token (analysis/shingles.py spec). Either way doc lengths/norms
    keep counting BASE tokens only (discountOverlaps), mirroring the
    engine's index-time filters exactly. ``token_pattern`` overrides
    the pinned tokenizer regex (the CorpusSpec(uax29=True) mirror)."""
    tok = duckdb_token_sql(
        source, "doc_id", "text", with_positions=True, pattern=token_pattern
    )
    pos_col = ", pos" if with_positions else ""
    if edge_ngram:
        lo, hi = edge_ngram
        tok_ctes = f"""tok_base AS ({tok}),
tok AS (
  SELECT docid, substr(term, 1, i) AS term, pos
  FROM tok_base, UNNEST(range({lo}, least(length(term), {hi}) + 1)) AS u(i)
),
doclen_base AS (
  SELECT docid, count(*) AS fl FROM tok_base
  WHERE length(term) >= {lo} GROUP BY docid
)"""
        return f"""
WITH {tok_ctes},
postings AS (
  SELECT docid, term, CAST(count(*) AS INT) AS freq FROM tok GROUP BY docid, term
),
doclen AS (
  SELECT d.doc_id AS docid, CAST(coalesce(t.fl, 0) AS BIGINT) AS fl
  FROM {source} d LEFT JOIN doclen_base t ON d.doc_id = t.docid
),""" + _prelude_tail()
    if ngram:
        lo, hi = ngram
        tok_ctes = f"""tok_base AS ({tok}),
tok AS (
  SELECT docid, substr(term, CAST(s AS INT), CAST(n AS INT)) AS term, pos
  FROM tok_base,
       UNNEST(range(1, length(term) - {lo} + 2)) AS us(s),
       UNNEST(range({lo}, {hi} + 1)) AS un(n)
  WHERE s + n - 1 <= length(term)
),
doclen_base AS (
  SELECT docid, count(*) AS fl FROM tok_base
  WHERE length(term) >= {lo} GROUP BY docid
)"""
        return f"""
WITH {tok_ctes},
postings AS (
  SELECT docid, term, CAST(count(*) AS INT) AS freq FROM tok GROUP BY docid, term
),
doclen AS (
  SELECT d.doc_id AS docid, CAST(coalesce(t.fl, 0) AS BIGINT) AS fl
  FROM {source} d LEFT JOIN doclen_base t ON d.doc_id = t.docid
),""" + _prelude_tail()
    if synonyms or shingles:
        branches = ["    SELECT docid, term, pos FROM tok_base"]
        extra_ctes = []
        if shingles:
            extra_ctes.append(
                "maxp AS (SELECT docid, max(pos) AS mp FROM tok_base GROUP BY docid)"
            )
            for n in range(2, shingles + 1):
                cat = "a.term"
                joins = []
                for i in range(1, n):
                    cat += f" || ' ' || coalesce(b{i}.term, '_')"
                    joins.append(
                        f"  LEFT JOIN tok_base b{i}"
                        f" ON b{i}.docid = a.docid AND b{i}.pos = a.pos + {i}"
                    )
                extra_ctes.append(
                    f"""sh{n} AS (
  SELECT a.docid, {cat} AS term, a.pos
  FROM tok_base a JOIN maxp m ON m.docid = a.docid
{chr(10).join(joins)}
  WHERE a.pos + {n - 1} <= m.mp
)"""
                )
                branches.append(f"    SELECT docid, term, pos FROM sh{n}")
        if synonyms:
            branches.extend(
                f"    SELECT docid, '{syn}' AS term, pos FROM tok_base"
                f" WHERE term = '{src}'"
                for src, syns in synonyms
                for syn in syns
            )
        ctes = ",\n".join([f"tok_base AS ({tok})"] + extra_ctes)
        body = "\n    UNION ALL\n".join(branches)
        tok_ctes = f"""{ctes},
tok AS (
  SELECT DISTINCT docid, term, pos FROM (
{body}
  )
)"""
        doclen_src = "tok_base"
    elif limit_tokens is not None or length_range is not None:
        # LengthFilter mirror (out-of-range tokens dropped, position
        # gaps kept) then LimitTokenCountFilter mirror (first N of the
        # KEPT stream); doc length counts what survived both
        lf = (
            f"WHERE length(term) BETWEEN {length_range[0]} AND {length_range[1]}"
            if length_range is not None
            else ""
        )
        if limit_tokens is not None:
            body = f"""
  SELECT docid, term, pos FROM (
    SELECT docid, term, pos,
           row_number() OVER (PARTITION BY docid ORDER BY pos) AS emit
    FROM tok_all {lf}
  ) WHERE emit <= {limit_tokens}"""
        else:
            body = f"""
  SELECT docid, term, pos FROM tok_all {lf}"""
        tok_ctes = f"""tok_all AS ({tok}),
tok AS ({body}
)"""
        doclen_src = "tok"
    else:
        tok_ctes = f"tok AS ({tok})"
        doclen_src = "tok"
    return f"""
WITH {tok_ctes},
postings AS (
  SELECT docid, term, CAST(count(*) AS INT) AS freq FROM tok GROUP BY docid, term
),
doclen AS (
  SELECT d.doc_id AS docid, CAST(coalesce(t.fl, 0) AS BIGINT) AS fl
  FROM {source} d
  LEFT JOIN (SELECT docid, count(*) AS fl FROM {doclen_src} GROUP BY docid) t
    ON d.doc_id = t.docid
),""" + _prelude_tail()


def _prelude_tail() -> str:
    """The shared CTE suffix after tok/postings/doclen: norms, corpus
    stats, term stats, and the per-norm-byte BM25 cache."""
    return f"""
norm_decode(b, val) AS (VALUES {_norm_decode_values()}),
norms AS (
  SELECT docid, fl,
         CASE WHEN fl = 0 THEN 255 ELSE (
           SELECT max(b) FROM norm_decode
           WHERE val <= CAST(1.0 AS REAL)/CAST(sqrt(CAST(fl AS DOUBLE)) AS REAL)
         ) END AS norm
  FROM doclen
),
cstats AS (
  SELECT CAST(count(*) AS BIGINT) AS max_doc,
         CAST(coalesce(sum(fl), 0) AS BIGINT) AS sttf,
         CAST(CAST(coalesce(sum(fl), 0) AS DOUBLE) / count(*) AS REAL) AS avgdl
  FROM doclen
),
term_stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(freq) AS BIGINT) AS ttf
  FROM postings GROUP BY term
),
norm_table(nb, nt) AS (VALUES {_norm_table_values()}),
cache AS (
  -- k1*((1-b) + b*NORM_TABLE[nb]/avgdl), all float32, op order pinned
  -- to functions/bm25.py::norm_cache
  SELECT nb,
         {_f32_lit(1.2)} * (({_f32_lit(1.0)} - {_f32_lit(0.75)})
            + {_f32_lit(0.75)} * nt / (SELECT avgdl FROM cstats)) AS c
  FROM norm_table
)"""


def _idf_expr(df_expr: str) -> str:
    """float32 idf from a BIGINT df expression (bm25.py::idf)."""
    return (
        f"CAST(ln(1 + ((SELECT max_doc FROM cstats) - {df_expr} + 0.5)"
        f" / ({df_expr} + 0.5)) AS REAL)"
    )


def _term_weight_cte(name: str, term: str, boost: float = 1.0) -> str:
    """CTE `{name}(w)`: weight = idf * boost * (k1+1) in float32."""
    idf = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{term}')")
    k1p1 = f"({_f32_lit(1.2)} + {_f32_lit(1.0)})"
    return f"{name}(w) AS (SELECT {idf} * {_f32_lit(boost)} * {k1p1})"


def _term_scores_cte(name: str, term: str, boost: float = 1.0) -> str:
    """CTE `{name}(docid, s)`: BM25 float32 doc scores for one term."""
    return f"""{_term_weight_cte(name + '_w', term, boost)},
{name} AS (
  SELECT p.docid,
         (SELECT w FROM {name}_w) * CAST(p.freq AS REAL)
           / (CAST(p.freq AS REAL) + c.c) AS s
  FROM postings p JOIN norms n ON p.docid = n.docid
  JOIN cache c ON c.nb = n.norm
  WHERE p.term = '{term}'
)"""


def _topk(score_from: str, k: int = K) -> str:
    """rank/docid/score projection; float32 score widened to double."""
    return f"""
SELECT CAST(row_number() OVER (ORDER BY s DESC, docid ASC) AS BIGINT) AS rank,
       docid, CAST(s AS DOUBLE) AS score
FROM {score_from}
ORDER BY s DESC, docid ASC
LIMIT {k}"""


# ----------------------------------------------------------- queries

def tokenize_sql() -> str:
    return bm25_prelude() + "\nSELECT docid, term, CAST(freq AS BIGINT) AS freq FROM postings"


def positions_sql(term: str) -> str:
    tok = duckdb_token_sql("documents", "doc_id", "text", with_positions=True)
    return f"WITH tok AS ({tok})\nSELECT docid, term, pos FROM tok WHERE term = '{term}'"


def term_stats_sql() -> str:
    return bm25_prelude() + "\nSELECT term, df, ttf FROM term_stats"


def doc_norms_sql() -> str:
    return (
        bm25_prelude()
        + "\nSELECT docid, fl AS field_length, CAST(norm AS BIGINT) AS norm FROM norms"
    )


def corpus_stats_sql() -> str:
    return (
        bm25_prelude()
        + "\nSELECT max_doc, sttf AS sum_total_term_freq,"
        + " (SELECT CAST(count(*) AS BIGINT) FROM term_stats) AS n_terms FROM cstats"
    )


def term_query_sql(
    term: str,
    k: int = K,
    source: str = "documents",
    token_pattern: str | None = None,
) -> str:
    return (
        bm25_prelude(source=source, token_pattern=token_pattern)
        + ",\n"
        + _term_scores_cte("t0", term)
        + _topk("t0", k)
    )


def limit_tokens_term_query_sql(term: str, n_tokens: int, k: int = K) -> str:
    """TermQuery over a LimitTokenCountFilter index: only the first
    ``n_tokens`` emitted tokens per doc are searchable, and norms
    reflect the truncated length."""
    return (
        bm25_prelude(limit_tokens=n_tokens)
        + ",\n"
        + _term_scores_cte("t0", term)
        + _topk("t0", k)
    )


def length_filter_term_query_sql(
    term: str, lo: int, hi: int, k: int = K
) -> str:
    """TermQuery over a LengthFilter index: only terms with length in
    [lo, hi] are indexed; norms count kept tokens."""
    return (
        bm25_prelude(length_range=(lo, hi))
        + ",\n"
        + _term_scores_cte("t0", term)
        + _topk("t0", k)
    )


def _code_docs_cte() -> str:
    """CTE producing the deterministic synthetic code corpus (see
    sources/synthetic.py) with the pinned WDF code-split chain
    (analysis/worddelim.py::CODE_SPLIT_RULES) already applied — the
    oracle mirror of ``CorpusSpec(code=True)`` index builds."""
    from lucenenet_spark.analysis.worddelim import code_split_sql
    from lucenenet_spark.sources.synthetic import code_text_expr

    split = code_split_sql(f"({code_text_expr('doc_id')})")
    return f"code_docs AS (SELECT doc_id, {split} AS text FROM documents)"


def _with_code_docs(body: str) -> str:
    return body.replace("WITH ", f"WITH {_code_docs_cte()},\n", 1)


def code_term_query_sql(term: str, k: int = K) -> str:
    """TermQuery over the code-analyzed index: sub-word terms like
    'usr' exist only because the WDF chain split the identifiers."""
    return _with_code_docs(term_query_sql(term, k, source="code_docs"))


def _mid_docs_cte() -> str:
    """CTE producing the deterministic Mid*-token corpus (see
    sources/synthetic.py::mid_text_expr) — the oracle mirror of the
    CorpusSpec(uax29=True) showcase index."""
    from lucenenet_spark.sources.synthetic import mid_text_expr

    return (
        f"mid_docs AS (SELECT doc_id, {mid_text_expr('doc_id')} AS text"
        f" FROM documents)"
    )


def uax29_term_query_sql(term: str, k: int = K) -> str:
    """TermQuery over the full-UAX#29 index: terms like 'mrg:srt'
    exist only because the Mid* join rules kept them whole (the pinned
    default splits at the colon). Same BM25 prelude, tokenized with
    UAX29_TOKEN_PATTERN (RE2-safe by construction)."""
    from lucenenet_spark.analysis.analyzer import UAX29_TOKEN_PATTERN

    body = term_query_sql(
        term, k, source="mid_docs", token_pattern=UAX29_TOKEN_PATTERN
    )
    return body.replace("WITH ", f"WITH {_mid_docs_cte()},\n", 1)


def ja_term_query_sql(term: str, k: int = K) -> str:
    """BM25 top-k TermQuery over the Kuromoji-role index
    (CorpusSpec(ja=True), analysis/japanese.py lattice segmentation).
    The corpus is deterministic (JA_TEMPLATES by doc_id % N), so the
    oracle re-derives each variant's token stream with the same pinned
    pure segmenter at SQL-GENERATION time and joins it as a literal
    VALUES table — the cross-engine check then verifies the whole
    distributed build/scoring path (df/tf/norms/float32 BM25) over the
    segmented tokens, while the segmenter itself is pinned by the
    hand-checked fixtures in tests/test_japanese.py. No stop filter:
    doclen/norms count ALL tokens (JapaneseAnalyzer carries its own
    stop set, not the English one)."""
    from lucenenet_spark.analysis.japanese import analyze_ja
    from lucenenet_spark.sources.synthetic import JA_TEMPLATES

    return _template_term_query_sql(JA_TEMPLATES, analyze_ja, term, k)


def zh_term_query_sql(term: str, k: int = K) -> str:
    """BM25 top-k TermQuery over the SmartCn-role index
    (CorpusSpec(zh=True), analysis/chinese.py word-DAG segmentation) —
    same template-literal oracle shape as ja_term_query_sql."""
    from lucenenet_spark.analysis.chinese import analyze_zh
    from lucenenet_spark.sources.synthetic import ZH_TEMPLATES

    return _template_term_query_sql(ZH_TEMPLATES, analyze_zh, term, k)


def pl_term_query_sql(term: str, k: int = K) -> str:
    """BM25 top-k TermQuery over the Stempel-role stemmed index
    (CorpusSpec(stem_lang='pl'), analysis/polish.py pinned light
    stemmer) — same template-literal oracle shape as
    ja_term_query_sql: the oracle re-derives each PL_TEMPLATES
    variant's stemmed token stream with the same pinned pure analyzer
    at SQL-generation time, so the cross-engine check verifies the
    whole distributed build/scoring path over the stemmed tokens."""
    from lucenenet_spark.analysis.polish import analyze_pl
    from lucenenet_spark.sources.synthetic import PL_TEMPLATES

    return _template_term_query_sql(PL_TEMPLATES, analyze_pl, term, k)


def opennlp_term_query_sql(
    term: str, keep: tuple[str, ...] = ("NN", "NNP"), k: int = K
) -> str:
    """BM25 top-k TermQuery over the OpenNLP-role POS-gated index
    (CorpusSpec(opennlp_keep=...), analysis/opennlp_role.py pinned
    sentence detector + rule tagger + TypeTokenFilter consumer) —
    template-literal oracle shape: kept tokens carry their ORIGINAL
    positions (gaps where non-kept tags were removed) and doclen
    counts kept tokens only, both re-derived by the same pinned pure
    analyzer at SQL-generation time."""
    from lucenenet_spark.analysis.opennlp_role import make_opennlp_analyzer
    from lucenenet_spark.sources.synthetic import EN_POS_TEMPLATES

    return _template_term_query_sql(
        EN_POS_TEMPLATES, make_opennlp_analyzer(keep), term, k
    )


def translit_term_query_sql(
    term: str, transform_id: str = "Any-Latin", k: int = K
) -> str:
    """BM25 top-k TermQuery over the ICUTransformFilter-role index
    (CorpusSpec(translit='Any-Latin'), analysis/icu_transform.py
    pinned transliteration tables — ICUTransformFilter.cs role) —
    same template-literal oracle shape as ja_term_query_sql: the
    oracle re-derives each EL_TEMPLATES variant's transliterated token
    stream with the same pinned pure analyzer at SQL-generation time,
    so the cross-engine check verifies the whole distributed
    build/scoring path over the transformed tokens."""
    from lucenenet_spark.analysis.icu_transform import (
        make_transform_analyzer,
    )
    from lucenenet_spark.sources.synthetic import EL_TEMPLATES

    return _template_term_query_sql(
        EL_TEMPLATES, make_transform_analyzer(transform_id), term, k
    )


def collation_sort_sql(locale: str = "fr") -> str:
    """Mirror of the collation_sort entries: per-word doc counts
    ranked by the pinned locale collation key
    (analysis/collation.py::collation_key — CollationKeyAnalyzer
    role).  The key function is pure, so the oracle embeds each
    word's RANK as a literal computed at SQL-generation time; the
    cross-engine check then verifies the distributed key
    materialization + JVM key sort produce the same total order."""
    from lucenenet_spark.analysis.collation import collation_key
    from lucenenet_spark.sources.synthetic import (
        COLLATE_TEMPLATES,
        collate_text_expr,
    )

    ranked = sorted(
        COLLATE_TEMPLATES, key=lambda w: collation_key(w, locale)
    )
    vals = ", ".join(f"('{w}', {i + 1})" for i, w in enumerate(ranked))
    return f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {collate_text_expr('doc_id')} AS word
  FROM documents
),
r(word, rk) AS (VALUES {vals})
SELECT CAST(r.rk AS INT) AS rk, w.word AS word,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(w.doc_id) AS BIGINT) AS min_doc
FROM w JOIN r ON r.word = w.word
GROUP BY r.rk, w.word
ORDER BY rk"""


def collation_range_sql(
    locale: str = "sv", lo: str = "HOT", hi: str = "HÅT"
) -> str:
    """Mirror of the collation_range entries (TermRangeQuery-with-
    collator role): per-word doc counts for the words whose pinned
    locale key falls within [lo, hi] — the qualifying word set is
    computed at SQL-generation time by the same pure key function."""
    from lucenenet_spark.analysis.collation import collation_key
    from lucenenet_spark.sources.synthetic import (
        COLLATE_TEMPLATES,
        collate_text_expr,
    )

    klo, khi = collation_key(lo, locale), collation_key(hi, locale)
    keep = [
        w
        for w in COLLATE_TEMPLATES
        if klo <= collation_key(w, locale) <= khi
    ]
    inlist = ", ".join(f"'{w}'" for w in keep)
    return f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {collate_text_expr('doc_id')} AS word
  FROM documents
)
SELECT word, CAST(count(*) AS BIGINT) AS n_docs
FROM w WHERE word IN ({inlist})
GROUP BY word ORDER BY word"""


def _template_prelude(templates, analyze_fn) -> str:
    """The tok/postings/doclen + shared-tail prelude over a
    deterministic template corpus: each variant's token stream is
    re-derived by the same pinned pure analyzer at SQL-generation time
    and joined as a literal VALUES table on doc_id % n_templates."""
    rows = []
    for v, s in enumerate(templates):
        for t, p in analyze_fn(s):
            rows.append(f"({v}, '{t}', {p})")
    vals = ", ".join(rows)
    return f"""
WITH vtok(variant, term, pos) AS (VALUES {vals}),
tok AS (
  SELECT d.doc_id AS docid, v.term, v.pos
  FROM documents d
  JOIN vtok v ON (d.doc_id % {len(templates)}) = v.variant
),
postings AS (
  SELECT docid, term, CAST(count(*) AS INT) AS freq FROM tok
  GROUP BY docid, term
),
doclen AS (
  SELECT d.doc_id AS docid, CAST(coalesce(t.fl, 0) AS BIGINT) AS fl
  FROM documents d
  LEFT JOIN (SELECT docid, count(*) AS fl FROM tok GROUP BY docid) t
    ON d.doc_id = t.docid
),""" + _prelude_tail()


def _template_term_query_sql(templates, analyze_fn, term: str, k: int) -> str:
    return (
        _template_prelude(templates, analyze_fn)
        + ",\n"
        + _term_scores_cte("t0", term)
        + _topk("t0", k)
    )


def ja_phrase_query_sql(t0: str, t1: str, k: int = K) -> str:
    """Exact 2-term phrase over the Kuromoji-role index: positions come
    from the lattice segmentation (adjacent dictionary words), so this
    verifies the positional payload of the ja build path; same phrase
    weight/scoring shape as phrase_sql."""
    from lucenenet_spark.analysis.japanese import analyze_ja
    from lucenenet_spark.sources.synthetic import JA_TEMPLATES

    idf0 = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{t0}')")
    idf1 = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{t1}')")
    k1p1 = f"({_f32_lit(1.2)} + {_f32_lit(1.0)})"
    return (
        _template_prelude(JA_TEMPLATES, analyze_ja)
        + f""",
w AS (SELECT (({_f32_lit(0.0)} + {idf0}) + {idf1}) * {_f32_lit(1.0)} * {k1p1} AS w),
pfreq AS (
  SELECT a.docid, CAST(count(*) AS INT) AS freq
  FROM tok a JOIN tok b ON b.docid = a.docid AND b.pos = a.pos + 1
  WHERE a.term = '{t0}' AND b.term = '{t1}'
  GROUP BY a.docid
),
scored AS (
  SELECT p.docid,
         (SELECT w FROM w) * CAST(p.freq AS REAL)
           / (CAST(p.freq AS REAL) + c.c) AS s
  FROM pfreq p JOIN norms n ON p.docid = n.docid
  JOIN cache c ON c.nb = n.norm
)"""
        + _topk("scored", k)
    )


def fuzzy_osa_topk_sql(term: str, max_edits: int = 2, k: int = K) -> str:
    """Scored FuzzyQuery (transpositions=true) end-to-end: the
    TopTerms-style expansion keeps every dictionary variant within OSA
    distance (DuckDB damerau_levenshtein — full-DL==OSA on the
    decision band, tests/test_osa.py), each clause boosted by
    1 - dist/min(len) (FuzzyTermsEnum boost), clauses folded float32
    in term-asc order (the engine's pinned emit order)."""
    qlen = len(term)
    k1p1 = f"({_f32_lit(1.2)} + {_f32_lit(1.0)})"
    return (
        bm25_prelude()
        + f""",
cand AS (
  SELECT term, df, damerau_levenshtein(term, '{term}') AS dist
  FROM term_stats
  WHERE abs(length(term) - {qlen}) <= {max_edits}
    AND damerau_levenshtein(term, '{term}') <= {max_edits}
),
tw AS (
  SELECT term,
         row_number() OVER (ORDER BY term ASC) AS cidx,
         {_idf_expr("df")}
           * CAST(1.0 - CAST(dist AS DOUBLE)
                  / least(length(term), {qlen}) AS REAL)
           * {k1p1} AS w
  FROM cand
),
clause AS (
  SELECT p.docid, tw.cidx,
         tw.w * CAST(p.freq AS REAL) / (CAST(p.freq AS REAL) + c.c) AS s
  FROM postings p
  JOIN tw ON tw.term = p.term
  JOIN norms n ON p.docid = n.docid
  JOIN cache c ON c.nb = n.norm
),
folded AS (
  SELECT docid,
         list_reduce(list(s ORDER BY cidx), (x, y) -> x + y) * {_f32_lit(1.0)} AS s
  FROM clause GROUP BY docid
)"""
        + _topk("folded", k)
    )


def uax29_mid_terms_sql() -> str:
    """Dictionary slice of the full-UAX#29 index: every term kept
    whole across a MidLetter/MidNum joiner (contains ':' or ','),
    with df/ttf — the \"4,600\" / \"A:B\" classes of
    TestStandardAnalyzer.cs:254-298."""
    from lucenenet_spark.analysis.analyzer import UAX29_TOKEN_PATTERN

    body = (
        bm25_prelude(source="mid_docs", token_pattern=UAX29_TOKEN_PATTERN)
        + """
SELECT term, df, ttf FROM term_stats WHERE regexp_matches(term, '[:,]')"""
    )
    return body.replace("WITH ", f"WITH {_mid_docs_cte()},\n", 1)


def code_phrase_query_sql(t0: str, t1: str, k: int = K) -> str:
    """PhraseQuery over adjacent sub-words of one identifier — e.g.
    camelCase 'getUsr...' matches phrase "get usr" because the split
    parts occupy consecutive positions."""
    return _with_code_docs(phrase_sql(t0, t1, k, source="code_docs"))


def boolean_and_sql(t0: str, t1: str, k: int = K) -> str:
    """MUST t0 AND MUST t1: scores folded ((0+s0)+s1) in clause order
    (searcher.py::_boolean float32 fold)."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("c0", t0)
        + ",\n" + _term_scores_cte("c1", t1)
        + f""",
merged AS (
  SELECT c0.docid, ({_f32_lit(0.0)} + c0.s) + c1.s AS s
  FROM c0 JOIN c1 ON c0.docid = c1.docid
)"""
        + _topk("merged", k)
    )


def boolean_or_sql(t0: str, t1: str, k: int = K) -> str:
    """SHOULD t0 OR SHOULD t1 (DisjunctionSumScorer)."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("c0", t0)
        + ",\n" + _term_scores_cte("c1", t1)
        + f""",
merged AS (
  SELECT coalesce(c0.docid, c1.docid) AS docid,
         ({_f32_lit(0.0)} + coalesce(c0.s, {_f32_lit(0.0)}))
           + coalesce(c1.s, {_f32_lit(0.0)}) AS s
  FROM c0 FULL OUTER JOIN c1 ON c0.docid = c1.docid
)"""
        + _topk("merged", k)
    )


def boolean_not_sql(t0: str, t_not: str, k: int = K) -> str:
    """MUST t0 AND MUST_NOT t_not (ReqExclScorer anti-join)."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("c0", t0)
        + f""",
merged AS (
  SELECT c0.docid, {_f32_lit(0.0)} + c0.s AS s FROM c0
  WHERE c0.docid NOT IN (SELECT docid FROM postings WHERE term = '{t_not}')
)"""
        + _topk("merged", k)
    )


def min_should_match_sql(t0: str, t1: str, t2: str, msm: int, k: int = K) -> str:
    """3 SHOULD clauses, minimumNumberShouldMatch (MinShouldMatchSumScorer)."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("c0", t0)
        + ",\n" + _term_scores_cte("c1", t1)
        + ",\n" + _term_scores_cte("c2", t2)
        + f""",
ids AS (
  SELECT docid FROM c0 UNION SELECT docid FROM c1 UNION SELECT docid FROM c2
),
merged AS (
  SELECT i.docid,
         (({_f32_lit(0.0)} + coalesce(c0.s, {_f32_lit(0.0)}))
            + coalesce(c1.s, {_f32_lit(0.0)}))
            + coalesce(c2.s, {_f32_lit(0.0)}) AS s,
         (CASE WHEN c0.docid IS NULL THEN 0 ELSE 1 END
          + CASE WHEN c1.docid IS NULL THEN 0 ELSE 1 END
          + CASE WHEN c2.docid IS NULL THEN 0 ELSE 1 END) AS n_match
  FROM ids i
  LEFT JOIN c0 ON i.docid = c0.docid
  LEFT JOIN c1 ON i.docid = c1.docid
  LEFT JOIN c2 ON i.docid = c2.docid
),
kept AS (SELECT docid, s FROM merged WHERE n_match >= {msm})"""
        + _topk("kept", k)
    )


def dismax_sql(t0: str, t1: str, tie: float, k: int = K) -> str:
    """DisjunctionMaxQuery: (max + (sum-max)*tie) * boost, float32
    (DisjunctionMaxQuery.cs:69-77; searcher.py::_dismax fold order)."""
    z = _f32_lit(0.0)
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("c0", t0)
        + ",\n" + _term_scores_cte("c1", t1)
        + f""",
merged AS (
  SELECT coalesce(c0.docid, c1.docid) AS docid,
         -- greatest() promotes to DOUBLE in DuckDB; cast back is exact
         CAST(greatest(coalesce(c0.s, {z}), coalesce(c1.s, {z})) AS REAL) AS mx,
         ({z} + coalesce(c0.s, {z})) + coalesce(c1.s, {z}) AS acc
  FROM c0 FULL OUTER JOIN c1 ON c0.docid = c1.docid
),
scored AS (
  SELECT docid,
         (mx + (acc - mx) * {_f32_lit(tie)}) * {_f32_lit(1.0)} AS s
  FROM merged
)"""
        + _topk("scored", k)
    )


def phrase_sql(t0: str, t1: str, k: int = K, source: str = "documents") -> str:
    """Exact 2-term phrase: t1 at position t0.pos+1; phrase freq =
    count of start positions; weight = (0+idf0)+idf1 summed float32
    (searcher.py::_phrase)."""
    idf0 = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{t0}')")
    idf1 = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{t1}')")
    k1p1 = f"({_f32_lit(1.2)} + {_f32_lit(1.0)})"
    return (
        bm25_prelude(with_positions=True, source=source)
        + f""",
w AS (SELECT (({_f32_lit(0.0)} + {idf0}) + {idf1}) * {_f32_lit(1.0)} * {k1p1} AS w),
pfreq AS (
  SELECT a.docid, CAST(count(*) AS INT) AS freq
  FROM tok a JOIN tok b ON b.docid = a.docid AND b.pos = a.pos + 1
  WHERE a.term = '{t0}' AND b.term = '{t1}'
  GROUP BY a.docid
),
scored AS (
  SELECT p.docid,
         (SELECT w FROM w) * CAST(p.freq AS REAL)
           / (CAST(p.freq AS REAL) + c.c) AS s
  FROM pfreq p JOIN norms n ON p.docid = n.docid
  JOIN cache c ON c.nb = n.norm
)"""
        + _topk("scored", k)
    )


def event_window_counts_sql(hours: int = 1) -> str:
    """Tumbling event-time windows (batch semantics of the streaming
    windowed agg); DECIMAL sum keeps cross-engine exactness."""
    return f"""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type"""


def event_sessions_sql(gap_minutes: int = 30) -> str:
    """Gaps-and-islands mirror of session_window: a session breaks when
    the inter-event gap is >= the session gap (Spark's window is
    [start, last+gap), so an event landing exactly at the boundary
    starts a new session)."""
    return f"""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL {gap_minutes} MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
),
g AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM o
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       -- floor: epoch() keeps fractional seconds and DuckDB's cast
       -- ROUNDS, while Spark's unix_timestamp truncates
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id, grp"""


def filtered_query_sql(term: str, meta_col: str, meta_val: str, k: int = K) -> str:
    """FilteredQuery: BM25 scores of a term query restricted to docs
    matching a metadata predicate (filter affects matching only)."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
kept AS (
  SELECT s.docid, s.s FROM t0 s
  JOIN documents d ON CAST(d.doc_id AS BIGINT) = s.docid
  WHERE d.{meta_col} = '{meta_val}'
)"""
        + _topk("kept", k)
    )


def numeric_range_query_sql(term: str, lo: int, hi: int, k: int = K) -> str:
    """NumericRangeQuery analog: BM25 term scores restricted to docs
    whose field_length lies in [lo, hi] — the trie-term machinery of
    ``Search/NumericRangeQuery.cs`` collapses to a typed-column BETWEEN
    with parquet min/max pruning (SURVEY.md §4.1)."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
kept AS (
  SELECT s.docid, s.s FROM t0 s
  JOIN norms n ON n.docid = s.docid
  WHERE n.fl BETWEEN {lo} AND {hi}
)"""
        + _topk("kept", k)
    )


def facet_sql(term: str, facet_col: str) -> str:
    """Facet counts over a TermQuery's matches."""
    return (
        bm25_prelude()
        + f"""
SELECT d.{facet_col} AS {facet_col}, CAST(count(*) AS BIGINT) AS n_docs
FROM documents d
WHERE CAST(d.doc_id AS BIGINT) IN (SELECT docid FROM postings WHERE term = '{term}')
GROUP BY d.{facet_col}"""
    )


def grouped_topk_sql(
    term: str, group_col: str, k_groups: int = 10, k_per_group: int = 3
) -> str:
    """Two-pass grouping over a TermQuery's scored docs."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
wg AS (
  SELECT s.docid, s.s, d.{group_col} AS grp
  FROM t0 s JOIN documents d ON CAST(d.doc_id AS BIGINT) = s.docid
),
ranked AS (
  SELECT docid, s, grp,
         row_number() OVER (PARTITION BY grp ORDER BY s DESC, docid ASC) AS doc_rank
  FROM wg
),
best AS (SELECT grp, s AS best, docid AS bd FROM ranked WHERE doc_rank = 1),
topg AS (
  SELECT grp, rk AS group_rank FROM (
    SELECT grp, row_number() OVER (ORDER BY best DESC, bd ASC) AS rk FROM best
  ) WHERE rk <= {k_groups}
)
SELECT r.grp AS grp, CAST(t.group_rank AS BIGINT) AS group_rank,
       CAST(r.doc_rank AS BIGINT) AS doc_rank, r.docid,
       CAST(r.s AS DOUBLE) AS score
FROM ranked r JOIN topg t ON r.grp = t.grp
WHERE r.doc_rank <= {k_per_group}"""
    )


def sort_by_field_sql(term: str, k: int = K) -> str:
    """TopFieldCollector mirror: matches of a term query sorted by
    (field_length ASC, score DESC, docid ASC)."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
joined AS (
  SELECT s.docid, s.s, n.fl FROM t0 s JOIN norms n ON n.docid = s.docid
)
SELECT CAST(row_number() OVER (ORDER BY fl ASC, s DESC, docid ASC) AS BIGINT) AS rank,
       docid, CAST(fl AS BIGINT) AS field_length, CAST(s AS DOUBLE) AS score
FROM joined ORDER BY fl ASC, s DESC, docid ASC LIMIT {k}"""
    )


def sort_by_meta_desc_sql(term: str, meta_col: str, k: int = K) -> str:
    """Sort by a string metadata column DESC, score DESC, docid ASC."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
joined AS (
  SELECT s.docid, s.s, d.{meta_col} AS {meta_col}
  FROM t0 s JOIN documents d ON CAST(d.doc_id AS BIGINT) = s.docid
)
SELECT CAST(row_number() OVER (ORDER BY {meta_col} DESC, s DESC, docid ASC) AS BIGINT)
         AS rank,
       docid, {meta_col}, CAST(s AS DOUBLE) AS score
FROM joined ORDER BY {meta_col} DESC, s DESC, docid ASC LIMIT {k}"""
    )


def stored_fields_sql(docids: list[int]) -> str:
    """IndexSearcher.Doc bulk retrieval mirror."""
    ids = ", ".join(str(int(d)) for d in docids)
    return f"""
SELECT CAST(doc_id AS BIGINT) AS docid, lang, source
FROM documents WHERE doc_id IN ({ids})"""


def sort_search_after_sql(term: str, page: int = 2, k: int = 10) -> str:
    """Field-sorted pagination: the k hits after rank (page-1)*k in
    (field_length asc, docid asc) order."""
    lo, hi = (page - 1) * k, page * k
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
r AS (
  SELECT s.docid, s.s, n.fl,
         row_number() OVER (ORDER BY n.fl ASC, s.docid ASC) AS rk
  FROM t0 s JOIN norms n ON n.docid = s.docid
)
SELECT docid, CAST(fl AS BIGINT) AS field_length, CAST(s AS DOUBLE) AS score
FROM r WHERE rk > {lo} AND rk <= {hi}"""
    )


def search_after_sql(term: str, page: int = 2, k: int = 10) -> str:
    """Cursor pagination = the k hits after rank (page-1)*k."""
    lo, hi = (page - 1) * k, page * k
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
r AS (
  SELECT docid, s, row_number() OVER (ORDER BY s DESC, docid ASC) AS rk FROM t0
)
SELECT docid, CAST(s AS DOUBLE) AS score FROM r WHERE rk > {lo} AND rk <= {hi}"""
    )


def rescore_sql(
    t_first: str, p0: str, p1: str,
    w1: float = 1.0, w2: float = 2.0, k_first: int = 50, k_final: int = 10,
) -> str:
    """QueryRescorer: top-k_first of a TermQuery re-scored by a phrase
    query, combined (w1*s1 + w2*s2) in float32."""
    idf0 = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{p0}')")
    idf1 = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{p1}')")
    k1p1 = f"({_f32_lit(1.2)} + {_f32_lit(1.0)})"
    z = _f32_lit(0.0)
    return (
        bm25_prelude(with_positions=True)
        + ",\n" + _term_scores_cte("t0", t_first)
        + f""",
firstk AS (
  SELECT docid, s AS s1 FROM t0 ORDER BY s DESC, docid ASC LIMIT {k_first}
),
pw AS (SELECT (({z} + {idf0}) + {idf1}) * {_f32_lit(1.0)} * {k1p1} AS w),
pfreq AS (
  SELECT a.docid, CAST(count(*) AS INT) AS freq
  FROM tok a JOIN tok b ON b.docid = a.docid AND b.pos = a.pos + 1
  WHERE a.term = '{p0}' AND b.term = '{p1}'
  GROUP BY a.docid
),
second AS (
  SELECT p.docid,
         (SELECT w FROM pw) * CAST(p.freq AS REAL)
           / (CAST(p.freq AS REAL) + c.c) AS s2
  FROM pfreq p JOIN norms n ON p.docid = n.docid JOIN cache c ON c.nb = n.norm
),
combined AS (
  SELECT f.docid,
         {_f32_lit(w1)} * f.s1 + {_f32_lit(w2)} * coalesce(s.s2, {z}) AS s
  FROM firstk f LEFT JOIN second s ON s.docid = f.docid
)"""
        + _topk("combined", k_final)
    )


def hit_count_sql(t0: str, t1: str) -> str:
    """TotalHitCount of a 2-term disjunction."""
    return (
        bm25_prelude()
        + f"""
SELECT CAST(count(DISTINCT docid) AS BIGINT) AS n_hits
FROM postings WHERE term IN ('{t0}', '{t1}')"""
    )


def mlt_terms_sql(
    docid: int, max_query_terms: int = 25, min_term_freq: int = 2, min_doc_freq: int = 5
) -> str:
    """MoreLikeThis term selection for one doc: tf*idf ranked with
    idf = ln(maxDoc/(df+1)) + 1 (classic-similarity idf), ties by
    term asc — mirrors search/mlt.py::interesting_terms."""
    return (
        bm25_prelude()
        + f""",
dtf AS (
  SELECT term, CAST(freq AS BIGINT) AS tf FROM postings
  WHERE docid = {docid} AND freq >= {min_term_freq}
),
sel AS (
  SELECT d.term, d.tf, t.df,
         d.tf * (ln(CAST((SELECT max_doc FROM cstats) AS DOUBLE) / (t.df + 1)) + 1.0)
           AS mlt_score
  FROM dtf d JOIN term_stats t ON t.term = d.term
  WHERE t.df >= {min_doc_freq}
)
SELECT term, tf, df, mlt_score FROM sel
ORDER BY mlt_score DESC, term ASC LIMIT {max_query_terms}"""
    )


def expression_topk_sql(term: str, expr: str, k: int = K) -> str:
    """Expression-ranked matches: the SAME expression string compiled
    for DuckDB (functions/expressions.py::expression_sql) over the
    float32 score (exact when widened to double) and norms.fl."""
    from lucenenet_spark.functions.expressions import expression_sql

    e = expression_sql(expr, {"score": "s.s", "field_length": "n.fl"})
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
joined AS (
  SELECT s.docid, {e} AS expr_score
  FROM t0 s JOIN norms n ON n.docid = s.docid
)
SELECT CAST(row_number() OVER (ORDER BY expr_score DESC, docid ASC) AS BIGINT) AS rank,
       docid, expr_score
FROM joined ORDER BY expr_score DESC, docid ASC LIMIT {k}"""
    )


def facet_taxonomy_sql(term: str, levels: list[str]) -> str:
    """ROLLUP mirror of the hierarchical facet counts."""
    cols = ", ".join(levels)
    depth = " + ".join(
        f"(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END)" for c in levels
    )
    path = ", ".join(f"coalesce({c}, '')" for c in levels)
    return (
        bm25_prelude()
        + f""",
matched AS (
  SELECT d.* FROM documents d
  WHERE CAST(d.doc_id AS BIGINT) IN (SELECT docid FROM postings WHERE term = '{term}')
)
SELECT CAST({depth} AS BIGINT) AS depth,
       regexp_replace(concat_ws('/', {path}), '/+$', '') AS path,
       CAST(count(*) AS BIGINT) AS n_docs
FROM matched GROUP BY ROLLUP ({cols})"""
    )


def join_query_sql(term: str, field: str, score_mode: str = "max", k: int = K) -> str:
    """JoinUtil mirror: to-side docs whose {field} value appears among
    the from-query matches' values; score per value = max, or the
    float32 docid-ordered total/avg (list_reduce fold)."""
    if score_mode == "max":
        pv = f"SELECT v, CAST(max(s) AS REAL) AS s FROM fv GROUP BY v"
    else:
        fold = "list_reduce(list(s ORDER BY docid), (x, y) -> x + y)"
        if score_mode == "avg":
            fold = f"CAST({fold} / CAST(count(*) AS REAL) AS REAL)"
        pv = f"SELECT v, {fold} AS s FROM fv GROUP BY v"
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
fv AS (
  SELECT d.{field} AS v, s.docid, s.s
  FROM t0 s JOIN documents d ON CAST(d.doc_id AS BIGINT) = s.docid
  WHERE d.{field} IS NOT NULL
),
pv AS ({pv}),
joined AS (
  SELECT CAST(d.doc_id AS BIGINT) AS docid, p.s AS s
  FROM documents d JOIN pv p ON d.{field} = p.v
)"""
        + _topk("joined", k)
    )


def block_join_sql(
    term: str, block: int = 10, score_mode: str = "avg", k: int = K
) -> str:
    """to_parent_join mirror over the derived decade-block relation
    (parent = docid - docid % block; parents are their own decade
    heads and are excluded from the child set)."""
    if score_mode == "max":
        s = "CAST(max(s) AS REAL)"
    else:
        s = "list_reduce(list(s ORDER BY docid), (x, y) -> x + y)"
        if score_mode == "avg":
            s = f"CAST({s} / CAST(count(*) AS REAL) AS REAL)"
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
kids AS (
  SELECT s.docid, s.s, s.docid - s.docid % {block} AS p
  FROM t0 s WHERE s.docid - s.docid % {block} != s.docid
),
pv AS (SELECT p, {s} AS s FROM kids GROUP BY p),
joined AS (
  SELECT p AS docid, s FROM pv
  WHERE p IN (SELECT CAST(doc_id AS BIGINT) FROM documents)
)"""
        + _topk("joined", k)
    )


def block_join_children_sql(term: str, block: int = 10, k: int = K) -> str:
    """to_child_join mirror: children of decade-block parents matching
    the term query, each scoring its parent's BM25 score."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
joined AS (
  SELECT CAST(d.doc_id AS BIGINT) AS docid, p.s AS s
  FROM documents d
  JOIN t0 p ON p.docid = d.doc_id - (d.doc_id % {block})
  WHERE d.doc_id % {block} != 0
)"""
        + _topk("joined", k)
    )


def sort_rescore_sql(term: str, k_first: int = 50, k_final: int = K) -> str:
    """SortRescorer mirror: relevance top-k_first re-ordered by
    (field_length asc, docid asc)."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
firstk AS (SELECT docid, s FROM t0 ORDER BY s DESC, docid ASC LIMIT {k_first}),
joined AS (
  SELECT f.docid, f.s, n.fl FROM firstk f JOIN norms n ON n.docid = f.docid
)
SELECT CAST(row_number() OVER (ORDER BY fl ASC, docid ASC) AS BIGINT) AS rank,
       docid, CAST(fl AS BIGINT) AS field_length, CAST(s AS DOUBLE) AS score
FROM joined ORDER BY fl ASC, docid ASC LIMIT {k_final}"""
    )


def term_vector_sql(docid: int) -> str:
    """Per-doc term vector with positions."""
    tok = duckdb_token_sql("documents", "doc_id", "text", with_positions=True)
    return f"""
WITH tok AS ({tok})
SELECT term,
       CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS freq,
       pos
FROM tok WHERE docid = {docid}"""


def classic_term_query_sql(term: str, k: int = K) -> str:
    """ClassicSimilarity (TFIDF/DefaultSimilarity) term query: idf =
    float32(ln(maxDoc/(df+1)) + 1), weight = (idf*idf)*boost, score =
    (weight * float32(sqrt(freq))) * byte315-decoded norm — mirrors
    functions/similarity.py::ClassicSimilarity op-for-op (queryNorm
    omitted on both sides)."""
    idf = (
        f"CAST(ln(CAST((SELECT max_doc FROM cstats) AS DOUBLE)"
        f" / ((SELECT df FROM term_stats WHERE term = '{term}') + 1)) + 1.0 AS REAL)"
    )
    return (
        bm25_prelude()
        + f""",
w AS (SELECT ({idf} * {idf}) * {_f32_lit(1.0)} AS w),
scored AS (
  SELECT p.docid,
         ((SELECT w FROM w) * CAST(sqrt(CAST(p.freq AS DOUBLE)) AS REAL)) * d.val AS s
  FROM postings p JOIN norms n ON p.docid = n.docid
  JOIN norm_decode d ON d.b = n.norm
  WHERE p.term = '{term}'
)"""
        + _topk("scored", k)
    )


def lm_term_query_sql(term: str, mu: float = 2000.0, k: int = K) -> str:
    """LMDirichletSimilarity term query mirror: p = f32(ttf+1)/f32(sttf+1),
    docLen = f32(1/decode(norm)^2), score = f32(ln(1 + freq/(mu*p)) +
    ln(mu/(docLen+mu))) clamped at 0 — double logs truncated to REAL,
    op-for-op with functions/similarity.py::LMDirichletSimilarity."""
    mu_d = float(np.float64(np.float32(mu)))
    p = (
        f"(CAST((SELECT ttf FROM term_stats WHERE term = '{term}') + 1.0 AS REAL)"
        f" / CAST((SELECT sttf FROM cstats) + 1.0 AS REAL))"
    )
    return (
        bm25_prelude()
        + f""",
pw AS (SELECT {p} AS p),
scored0 AS (
  SELECT p.docid,
         CAST(ln(1.0 + CAST(p.freq AS DOUBLE)
                       / ({mu_d!r} * CAST((SELECT p FROM pw) AS DOUBLE)))
              + ln({mu_d!r} / (CAST(CAST(1.0 AS REAL) / (d.val * d.val) AS DOUBLE)
                               + {mu_d!r}))
              AS REAL) * {_f32_lit(1.0)} AS s0
  FROM postings p JOIN norms n ON p.docid = n.docid
  JOIN norm_decode d ON d.b = n.norm
  WHERE p.term = '{term}'
),
scored AS (
  SELECT docid, CASE WHEN s0 > 0 THEN s0 ELSE {_f32_lit(0.0)} END AS s
  FROM scored0
)"""
        + _topk("scored", k)
    )


def dfr_term_query_sql(term: str, k: int = K) -> str:
    """DFR I(n)L2 term query mirror (similarity.py::DFRInL2Similarity):
    w = f32(ln((N+1)/(df+0.5))/ln(2)), dl = f32(1/decode^2),
    tfn = freq * ln(1 + avgdl/dl)/ln(2) in double,
    score = f32(w * tfn/(1+tfn))."""
    w = (
        f"CAST(ln(CAST((SELECT max_doc FROM cstats) + 1.0 AS DOUBLE)"
        f" / ((SELECT df FROM term_stats WHERE term = '{term}') + 0.5))"
        f" / ln(2.0) AS REAL)"
    )
    dl = "CAST(CAST(1.0 AS REAL) / (d.val * d.val) AS DOUBLE)"
    tfn = (
        f"(CAST(p.freq AS DOUBLE)"
        f" * (ln(1.0 + CAST((SELECT avgdl FROM cstats) AS DOUBLE) / {dl})"
        f" / ln(2.0)))"
    )
    return (
        bm25_prelude()
        + f""",
scored AS (
  SELECT p.docid,
         CAST(CAST({w} AS DOUBLE) * {tfn} / (1.0 + {tfn}) AS REAL) AS s
  FROM postings p JOIN norms n ON p.docid = n.docid
  JOIN norm_decode d ON d.b = n.norm
  WHERE p.term = '{term}'
)"""
        + _topk("scored", k)
    )


def classic_phrase_sql(t0: str, t1: str, k: int = K) -> str:
    """ClassicSimilarity exact 2-term phrase: weight = float32(
    (Σf32 classic-idf)² * boost), score = (w * f32(sqrt(freq))) *
    byte315 norm — mirrors similarity.py::ClassicSimilarity.
    weight_multi + score with the phrase freq of searcher._phrase."""
    idf0 = (
        f"CAST(ln(CAST((SELECT max_doc FROM cstats) AS DOUBLE)"
        f" / ((SELECT df FROM term_stats WHERE term = '{t0}') + 1)) + 1.0 AS REAL)"
    )
    idf1 = (
        f"CAST(ln(CAST((SELECT max_doc FROM cstats) AS DOUBLE)"
        f" / ((SELECT df FROM term_stats WHERE term = '{t1}') + 1)) + 1.0 AS REAL)"
    )
    return (
        bm25_prelude(with_positions=True)
        + f""",
wsum AS (SELECT (({_f32_lit(0.0)} + {idf0}) + {idf1}) AS v),
w AS (SELECT ((SELECT v FROM wsum) * (SELECT v FROM wsum)) * {_f32_lit(1.0)} AS w),
pfreq AS (
  SELECT a.docid, CAST(count(*) AS INT) AS freq
  FROM tok a JOIN tok b ON b.docid = a.docid AND b.pos = a.pos + 1
  WHERE a.term = '{t0}' AND b.term = '{t1}'
  GROUP BY a.docid
),
scored AS (
  SELECT p.docid,
         ((SELECT w FROM w) * CAST(sqrt(CAST(p.freq AS DOUBLE)) AS REAL)) * d.val AS s
  FROM pfreq p JOIN norms n ON p.docid = n.docid
  JOIN norm_decode d ON d.b = n.norm
)"""
        + _topk("scored", k)
    )


def highlight_sql(t0: str, t1: str, window: int = 10, k: int = K) -> str:
    """Best token-window fragment per top-k hit of OR(t0, t1)."""
    return (
        bm25_prelude(with_positions=True)
        + ",\n" + _term_scores_cte("c0", t0)
        + ",\n" + _term_scores_cte("c1", t1)
        + f""",
merged AS (
  SELECT coalesce(c0.docid, c1.docid) AS docid,
         ({_f32_lit(0.0)} + coalesce(c0.s, {_f32_lit(0.0)}))
           + coalesce(c1.s, {_f32_lit(0.0)}) AS s
  FROM c0 FULL OUTER JOIN c1 ON c0.docid = c1.docid
),
top AS (SELECT docid FROM merged ORDER BY s DESC, docid ASC LIMIT {k}),
hits AS (
  SELECT t.docid, t.pos AS p FROM tok t JOIN top USING (docid)
  WHERE t.term IN ('{t0}', '{t1}')
),
counts AS (
  SELECT a.docid, a.p AS start, count(*) AS n
  FROM hits a JOIN hits b
    ON b.docid = a.docid AND b.p >= a.p AND b.p < a.p + {window}
  GROUP BY a.docid, a.p
),
best AS (
  SELECT docid, start, n FROM (
    SELECT docid, start, n,
           row_number() OVER (PARTITION BY docid ORDER BY n DESC, start ASC) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT docid, CAST(start AS BIGINT) AS frag_start,
       CAST(start + {window} - 1 AS BIGINT) AS frag_end,
       CAST(n AS BIGINT) AS n_hits
FROM best"""
    )


def highlight_snippets_sql(t0: str, t1: str, window: int = 10, k: int = K) -> str:
    """Char-offset snippet mirror of collectors.highlight_snippets:
    top-k of OR(t0, t1), then per-doc char offsets reconstructed from
    cumulative separator/token lengths over the lowercased text (the
    regex-split complement of regexp_extract_all), length filter
    before position numbering, stopword positions kept as emitted
    tokens — exactly the analyze_offsets contract."""
    from lucenenet_spark.analysis.analyzer import (
        MAX_TOKEN_LENGTH,
        TOKEN_PATTERN,
        _sql_quote_regex,
    )

    pat = _sql_quote_regex(TOKEN_PATTERN)
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("c0", t0)
        + ",\n" + _term_scores_cte("c1", t1)
        + f""",
merged AS (
  SELECT coalesce(c0.docid, c1.docid) AS docid,
         ({_f32_lit(0.0)} + coalesce(c0.s, {_f32_lit(0.0)}))
           + coalesce(c1.s, {_f32_lit(0.0)}) AS s
  FROM c0 FULL OUTER JOIN c1 ON c0.docid = c1.docid
),
top AS (SELECT docid FROM merged ORDER BY s DESC, docid ASC LIMIT {k}),
raw AS (
  SELECT d.doc_id AS docid, lower(d.text) AS lt,
         regexp_extract_all(lower(d.text), '{pat}') AS rtoks,
         regexp_split_to_array(lower(d.text), '{pat}') AS seps
  FROM documents d JOIN top ON top.docid = d.doc_id
),
rt AS (
  SELECT docid, lt, z[1] AS tok, CAST(z[2] AS INT) AS i,
         CAST(coalesce(list_sum(list_transform(seps[1:CAST(z[2] AS INT)],
                                               x -> length(x))), 0)
              + coalesce(list_sum(list_transform(rtoks[1:CAST(z[2] AS INT) - 1],
                                                 x -> length(x))), 0)
              AS BIGINT) AS s
  FROM raw, UNNEST(list_zip(rtoks, range(1, len(rtoks) + 1))) AS u(z)
),
ft AS (
  SELECT docid, lt, tok, s, s + length(tok) AS e,
         row_number() OVER (PARTITION BY docid ORDER BY i) - 1 AS pos
  FROM rt WHERE length(tok) <= {MAX_TOKEN_LENGTH}
),
hits AS (SELECT docid, pos FROM ft WHERE tok IN ('{t0}', '{t1}')),
counts AS (
  SELECT a.docid, a.pos AS start, count(*) AS n
  FROM hits a JOIN hits b
    ON b.docid = a.docid AND b.pos >= a.pos AND b.pos < a.pos + {window}
  GROUP BY a.docid, a.pos
),
best AS (
  SELECT docid, start, n FROM (
    SELECT docid, start, n,
           row_number() OVER (PARTITION BY docid ORDER BY n DESC, start ASC) AS rn
    FROM counts
  ) WHERE rn = 1
),
nmax AS (SELECT docid, max(pos) AS maxpos FROM ft GROUP BY docid)
SELECT b.docid,
       CAST(fs.s AS BIGINT) AS frag_start,
       CAST(fe.e AS BIGINT) AS frag_end,
       CAST(b.n AS BIGINT) AS n_hits,
       substring(fs.lt, CAST(fs.s AS INT) + 1, CAST(fe.e - fs.s AS INT)) AS snippet
FROM best b
JOIN nmax m ON m.docid = b.docid
JOIN ft fs ON fs.docid = b.docid AND fs.pos = b.start
JOIN ft fe ON fe.docid = b.docid
          AND fe.pos = least(b.start + {window} - 1, m.maxpos)"""
    )


def facet_ranges_sql(term: str, ranges: list[tuple[str, int, int]]) -> str:
    """Range facet counts over field_length for a term query's matches."""
    vals = ", ".join(f"('{la}', {lo}, {hi})" for la, lo, hi in ranges)
    return (
        bm25_prelude()
        + f""",
rng(label, lo, hi) AS (VALUES {vals}),
matched AS (
  SELECT n.fl FROM norms n
  WHERE n.docid IN (SELECT docid FROM postings WHERE term = '{term}')
)
SELECT r.label, CAST(count(m.fl) AS BIGINT) AS n_docs
FROM rng r LEFT JOIN matched m ON m.fl >= r.lo AND m.fl < r.hi
GROUP BY r.label"""
    )


def drill_sideways_sql(term: str, drill_downs: dict[str, str]) -> str:
    """DrillSideways mirror over two docs-table dims."""
    dims = sorted(drill_downs)
    selects = []
    for dim in dims:
        conds = " AND ".join(
            f"m.{o} = '{v}'" for o, v in drill_downs.items() if o != dim
        ) or "TRUE"
        selects.append(
            f"""SELECT '{dim}' AS dim, CAST(m.{dim} AS VARCHAR) AS value,
       CAST(count(*) AS BIGINT) AS n_docs
FROM matched m WHERE {conds} GROUP BY m.{dim}"""
        )
    fully = " AND ".join(f"m.{o} = '{v}'" for o, v in drill_downs.items())
    selects.append(
        f"""SELECT '__hits__' AS dim, '' AS value, CAST(count(*) AS BIGINT) AS n_docs
FROM matched m WHERE {fully}"""
    )
    body = "\nUNION ALL\n".join(selects)
    return (
        bm25_prelude()
        + f""",
matched AS (
  SELECT d.* FROM documents d
  WHERE CAST(d.doc_id AS BIGINT) IN (SELECT docid FROM postings WHERE term = '{term}')
)
{body}"""
    )


def group_distinct_sql(term: str, group_col: str, value_col: str) -> str:
    """Distinct (group, value) pairs among a term query's matches."""
    return (
        bm25_prelude()
        + f"""
SELECT DISTINCT d.{group_col} AS grp, d.{value_col} AS val
FROM documents d
WHERE CAST(d.doc_id AS BIGINT) IN (SELECT docid FROM postings WHERE term = '{term}')"""
    )


def suggest_sql(
    term: str, max_suggestions: int = 5, max_edits: int = 2, min_df: int = 1
) -> str:
    """SpellChecker.SuggestSimilar over the term dictionary."""
    return (
        bm25_prelude()
        + f"""
SELECT term, CAST(levenshtein(term, '{term}') AS BIGINT) AS distance, df
FROM term_stats
WHERE levenshtein(term, '{term}') <= {max_edits}
  AND term != '{term}' AND df >= {min_df}
ORDER BY distance ASC, df DESC, term ASC LIMIT {max_suggestions}"""
    )


def prefix_suggest_sql(prefix: str, max_suggestions: int = 5) -> str:
    """Prefix completion ranked by document frequency."""
    return (
        bm25_prelude()
        + f"""
SELECT term, df FROM term_stats WHERE term LIKE '{prefix}%'
ORDER BY df DESC, term ASC LIMIT {max_suggestions}"""
    )


def _analyzing_keys_cte(
    surface_chars: int = 40, weight_sql: str = "CAST(d.n_chars AS BIGINT)"
) -> str:
    """CTE ``keys(surface, key, weight)``: surfaces = the documents'
    leading chars, key = space-joined analyzed tokens (the
    AnalyzingSuggester key function), weight = ``weight_sql`` (a
    stored field for DocumentDictionary, any per-doc expression for
    DocumentValueSourceDictionary)."""
    tok = duckdb_token_sql(
        "documents", "doc_id", f"substring(text, 1, {surface_chars})",
        with_positions=True,
    )
    return f"""
WITH tok AS ({tok}),
keys AS (
  SELECT substring(d.text, 1, {surface_chars}) AS surface,
         coalesce((SELECT string_agg(t.term, ' ' ORDER BY t.pos)
                   FROM tok t WHERE t.docid = d.doc_id), '') AS key,
         {weight_sql} AS weight
  FROM documents d
)"""


def doc_value_suggest_sql(prefix_key: str, n: int = 5) -> str:
    """DocumentValueSourceDictionary mirror: same lookup as
    analyzing_suggest but weight = a computed per-doc expression."""
    return (
        _analyzing_keys_cte(
            weight_sql="CAST(d.n_chars * 2 + d.doc_id % 97 AS BIGINT)"
        )
        + f"""
SELECT surface, key, weight FROM keys
WHERE key != '' AND starts_with(key, '{prefix_key}')
ORDER BY weight DESC, surface ASC LIMIT {n}"""
    )


def analyzing_suggest_sql(prefix_key: str, n: int = 5) -> str:
    """AnalyzingSuggester.lookup mirror (prefix_key = the ALREADY
    analyzed prefix, which for a single lowercase token is itself)."""
    return (
        _analyzing_keys_cte()
        + f"""
SELECT surface, key, weight FROM keys
WHERE key != '' AND starts_with(key, '{prefix_key}')
ORDER BY weight DESC, surface ASC LIMIT {n}"""
    )


def fuzzy_suggest_sql(prefix_key: str, n: int = 5, max_edits: int = 1) -> str:
    """FuzzySuggester mirror: edits measured between the analyzed
    prefix and each key's same-length prefix."""
    plen = len(prefix_key)
    return (
        _analyzing_keys_cte()
        + f"""
SELECT surface, key, weight,
       CAST(levenshtein(substring(key, 1, {plen}), '{prefix_key}') AS BIGINT)
         AS distance
FROM keys
WHERE key != ''
  AND levenshtein(substring(key, 1, {plen}), '{prefix_key}') <= {max_edits}
ORDER BY distance ASC, weight DESC, surface ASC LIMIT {n}"""
    )


def _infix_table_cte(surface_chars: int = 40) -> str:
    """CTEs ``surf(surface, weight)`` + ``tok(docid, term, pos)`` for
    the infix suggesters: weight-deduped leading-chars surfaces
    (weight = MAX n_chars) with their analyzed tokens+positions —
    mirrors the driver's AnalyzingInfixSuggester feed exactly."""
    tok = duckdb_token_sql("surf", "surface", "surface", with_positions=True)
    return f"""
WITH surf AS (
  SELECT surface, MAX(weight) AS weight FROM (
    SELECT substring(text, 1, {surface_chars}) AS surface,
           CAST(n_chars AS BIGINT) AS weight
    FROM documents
  ) GROUP BY surface
),
tok AS ({tok})"""


def _infix_where(full: list[str], prefix: str | None, all_required: bool) -> str:
    """Token-set predicate over ``surf``/``tok``: each finished token
    must (AND) or may (OR) appear exactly; the unfinished token by
    prefix — AnalyzingInfixSuggester.DoLookup's BooleanQuery."""
    clauses = [
        f"EXISTS (SELECT 1 FROM tok t WHERE t.docid = s.surface AND t.term = '{t}')"
        for t in full
    ]
    if prefix is not None:
        clauses.append(
            f"EXISTS (SELECT 1 FROM tok t WHERE t.docid = s.surface"
            f" AND starts_with(t.term, '{prefix}'))"
        )
    joiner = " AND " if all_required else " OR "
    return joiner.join(clauses) if clauses else "FALSE"


def infix_suggest_sql(
    full: list[str],
    prefix: str | None,
    n: int = 5,
    all_required: bool = True,
) -> str:
    """AnalyzingInfixSuggester.DoLookup mirror: token-set match ranked
    purely by weight. ``full``/``prefix`` are the ALREADY-analyzed
    query tokens (query analysis is a driver-side literal op on both
    engines)."""
    return (
        _infix_table_cte()
        + f"""
SELECT s.surface, s.weight FROM surf s
WHERE {_infix_where(full, prefix, all_required)}
ORDER BY s.weight DESC, s.surface ASC LIMIT {n}"""
    )


def infix_highlight_sql(
    full: list[str],
    prefix: str | None,
    n: int = 5,
    all_required: bool = True,
) -> str:
    """Infix lookup with the reference's Highlight: whole matched
    tokens wrapped ``<b>tok</b>``, the prefix portion of prefix-matched
    tokens wrapped ``<b>pre</b>fix`` (AddWholeMatch/AddPrefixMatch).
    The surfaces are lowercase ``\\w``-word text, so RE2 word-boundary
    replaces reproduce the engine's offset walk exactly; callers must
    pick a prefix that is not a prefix of any full token (else the
    second replace would re-match inside the inserted tags)."""
    assert prefix is None or not any(t.startswith(prefix) for t in full)
    expr = "s.surface"
    if full:
        alts = "|".join(full)
        expr = rf"regexp_replace({expr}, '\b({alts})\b', '<b>\1</b>', 'g')"
    if prefix is not None:
        expr = (
            rf"regexp_replace({expr}, '\b({prefix})([a-z0-9_]*)',"
            rf" '<b>\1</b>\2', 'g')"
        )
    return (
        _infix_table_cte()
        + f"""
SELECT s.surface, s.weight, {expr} AS highlighted FROM surf s
WHERE {_infix_where(full, prefix, all_required)}
ORDER BY s.weight DESC, s.surface ASC LIMIT {n}"""
    )


def blended_infix_sql(
    full: list[str],
    prefix: str | None,
    blender: str = "linear",
    n: int = 5,
    num_factor: int = 10,
    all_required: bool = True,
) -> str:
    """BlendedInfixSuggester mirror: stage 1 cuts the top
    ``n * num_factor`` by raw weight, stage 2 re-ranks by
    ``trunc(weight * coefficient)`` from the FIRST matching analyzed
    position — POSITION_LINEAR ``1 - 0.10*p`` / POSITION_RECIPROCAL
    ``1/(1+p)``. trunc() before the BIGINT cast mirrors Spark's
    truncate-toward-zero double→long cast (DuckDB's bare CAST
    rounds)."""
    parts = [f"t.term IN ({', '.join(repr(t) for t in full)})"] if full else []
    if prefix is not None:
        parts.append(f"starts_with(t.term, '{prefix}')")
    match_any = " OR ".join(parts)
    if blender == "linear":
        coeff = "(1.0 - 0.1 * CAST(first_pos AS DOUBLE))"
    elif blender == "reciprocal":
        coeff = "(1.0 / (CAST(first_pos AS DOUBLE) + 1.0))"
    else:
        raise ValueError(f"unknown blender: {blender!r}")
    return (
        _infix_table_cte()
        + f""",
stage1 AS (
  SELECT s.surface, s.weight,
         CAST((SELECT MIN(t.pos) FROM tok t
               WHERE t.docid = s.surface AND ({match_any})) AS INTEGER)
           AS first_pos
  FROM surf s
  WHERE {_infix_where(full, prefix, all_required)}
  ORDER BY s.weight DESC, s.surface ASC LIMIT {n * num_factor}
)
SELECT surface, weight, first_pos,
       CAST(trunc(CAST(weight AS DOUBLE) * {coeff}) AS BIGINT) AS score
FROM stage1
ORDER BY score DESC, surface ASC LIMIT {n}"""
    )


def boost_by_value_sql(term: str, k: int = K) -> str:
    """FunctionQuery mirror: score' = score * float32(ln(1 + fl))."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
boosted AS (
  SELECT s.docid, s.s * CAST(ln(1 + n.fl) AS REAL) AS s
  FROM t0 s JOIN norms n ON n.docid = s.docid
)"""
        + _topk("boosted", k)
    )


def span_near_sql(t0: str, t1: str, slop: int, in_order: bool = True) -> str:
    """Mirror of spans._enumerate's two-term SpanNear span-count spec."""
    if in_order:
        cond = f"b.pos > a.pos AND b.pos - a.pos - 1 <= {slop}"
    else:
        cond = f"a.pos != b.pos AND abs(b.pos - a.pos) - 1 <= {slop}"
    return (
        bm25_prelude(with_positions=True)
        + f"""
SELECT a.docid, CAST(count(DISTINCT a.pos) AS BIGINT) AS n_spans
FROM tok a JOIN tok b ON b.docid = a.docid
WHERE a.term = '{t0}' AND b.term = '{t1}' AND {cond}
GROUP BY a.docid"""
    )


def span_near3_sql(t0: str, t1: str, t2: str, slop: int) -> str:
    """3-clause ordered SpanNear (spans.py pinned spec): for each t0
    position the GREEDY chain p1 = min t1-pos > p0, p2 = min t2-pos >
    p1; a start counts iff p2 - p0 - 2 <= slop (greedy minimizes p2,
    so greedy-fits == some-chain-fits)."""
    return (
        bm25_prelude(with_positions=True)
        + f"""
SELECT docid, CAST(count(*) AS BIGINT) AS n_spans FROM (
  SELECT s.docid, s.p0, s.p1,
         (SELECT min(c.pos) FROM tok c
          WHERE c.docid = s.docid AND c.term = '{t2}' AND c.pos > s.p1) AS p2
  FROM (
    SELECT a.docid, a.pos AS p0,
           (SELECT min(b.pos) FROM tok b
            WHERE b.docid = a.docid AND b.term = '{t1}' AND b.pos > a.pos) AS p1
    FROM tok a WHERE a.term = '{t0}'
  ) s
  WHERE s.p1 IS NOT NULL
)
WHERE p2 IS NOT NULL AND p2 - p0 - 2 <= {slop}
GROUP BY docid"""
    )


def span_near3_unordered_sql(t0: str, t1: str, t2: str, slop: int) -> str:
    """3-clause UNORDERED SpanNear (spans.py pinned EXISTS-window
    spec): count t0 anchors p for which some (b, c) positions of
    t1/t2 give greatest - least - 2 <= slop (unit spans of distinct
    terms are automatically pairwise distinct)."""
    return (
        bm25_prelude(with_positions=True)
        + f"""
SELECT a.docid, CAST(count(*) AS BIGINT) AS n_spans
FROM tok a
WHERE a.term = '{t0}' AND EXISTS (
  SELECT 1 FROM tok b, tok c
  WHERE b.docid = a.docid AND c.docid = a.docid
    AND b.term = '{t1}' AND c.term = '{t2}'
    AND greatest(a.pos, b.pos, c.pos) - least(a.pos, b.pos, c.pos) - 2 <= {slop}
)
GROUP BY a.docid"""
    )


def span_first_sql(t: str, end: int) -> str:
    """SpanFirstQuery over a term: unit spans with pos + 1 <= end."""
    return (
        bm25_prelude(with_positions=True)
        + f"""
SELECT docid, CAST(count(*) AS BIGINT) AS n_spans
FROM tok WHERE term = '{t}' AND pos + 1 <= {end}
GROUP BY docid"""
    )


def span_position_range_sql(t: str, start: int, end: int) -> str:
    """SpanPositionRangeQuery over a term: unit spans inside
    [start, end)."""
    return (
        bm25_prelude(with_positions=True)
        + f"""
SELECT docid, CAST(count(*) AS BIGINT) AS n_spans
FROM tok WHERE term = '{t}' AND pos >= {start} AND pos + 1 <= {end}
GROUP BY docid"""
    )


def span_not_sql(t0: str, t1: str, slop: int, exclude: str) -> str:
    """SpanNot(include = ordered near(t0, t1, slop), exclude = term):
    greedy-minimal include spans [p0, p1+1) that contain NO exclude
    position (overlap: p0 <= px <= p1)."""
    return (
        bm25_prelude(with_positions=True)
        + f"""
SELECT docid, CAST(count(*) AS BIGINT) AS n_spans FROM (
  SELECT a.docid, a.pos AS p0,
         (SELECT min(b.pos) FROM tok b
          WHERE b.docid = a.docid AND b.term = '{t1}' AND b.pos > a.pos) AS p1
  FROM tok a WHERE a.term = '{t0}'
) s
WHERE p1 IS NOT NULL AND p1 - p0 - 1 <= {slop}
  AND NOT EXISTS (
    SELECT 1 FROM tok x
    WHERE x.docid = s.docid AND x.term = '{exclude}'
      AND x.pos >= s.p0 AND x.pos <= s.p1
  )
GROUP BY docid"""
    )


def span_or_near_sql(t0a: str, t0b: str, t1: str, slop: int) -> str:
    """SpanNear(SpanOr(t0a, t0b), t1, slop, ordered): OR-clause unit
    spans each chain greedily to the next t1 position."""
    return (
        bm25_prelude(with_positions=True)
        + f"""
SELECT docid, CAST(count(*) AS BIGINT) AS n_spans FROM (
  SELECT a.docid, a.pos AS p0,
         (SELECT min(b.pos) FROM tok b
          WHERE b.docid = a.docid AND b.term = '{t1}' AND b.pos > a.pos) AS p1
  FROM tok a WHERE a.term IN ('{t0a}', '{t0b}')
) s
WHERE p1 IS NOT NULL AND p1 - p0 - 1 <= {slop}
GROUP BY docid"""
    )


def span_near_scored_sql(t0: str, t1: str, slop: int, k: int = K) -> str:
    """Scored 2-term ordered SpanNear (spans.py::span_query_scored):
    greedy spans [p0, p1+1), freq = f32-ordered sum over p0 of
    f32(1)/f32(1 + span width), weight = BM25 multi-term weight over
    SORTED terms, score = w*f/(f+cache[norm])."""
    ta, tb = sorted([t0, t1])
    idfa = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{ta}')")
    idfb = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{tb}')")
    k1p1 = f"({_f32_lit(1.2)} + {_f32_lit(1.0)})"
    return (
        bm25_prelude(with_positions=True)
        + f""",
w AS (SELECT (({_f32_lit(0.0)} + {idfa}) + {idfb}) * {_f32_lit(1.0)} * {k1p1} AS w),
sp AS (
  SELECT a.docid, a.pos AS p0,
         (SELECT min(b.pos) FROM tok b
          WHERE b.docid = a.docid AND b.term = '{t1}' AND b.pos > a.pos) AS p1
  FROM tok a WHERE a.term = '{t0}'
),
good AS (SELECT docid, p0, p1 FROM sp
         WHERE p1 IS NOT NULL AND p1 - p0 - 1 <= {slop}),
freqs AS (
  SELECT docid,
         list_reduce(
           list(CAST(1.0 AS REAL) / CAST(1 + (p1 + 1 - p0) AS REAL) ORDER BY p0),
           (x, y) -> x + y
         ) AS f
  FROM good GROUP BY docid
),
scored AS (
  SELECT fr.docid, (SELECT w FROM w) * fr.f / (fr.f + c.c) AS s
  FROM freqs fr JOIN norms n ON fr.docid = n.docid
  JOIN cache c ON c.nb = n.norm
)"""
        + _topk("scored", k)
    )


def sloppy_phrase_hits_sql(t0: str, t1: str, slop: int) -> str:
    """Match SET of a 2-term sloppy phrase. For two DISTINCT terms the
    PQ repositioning algorithm matches a doc iff some position pair has
    |p1 - p0 - 1| <= slop (the merge sweep visits the minimal pair), so
    the hit set — unlike the float32 frequency — is SQL-expressible."""
    return (
        bm25_prelude(with_positions=True)
        + f"""
SELECT DISTINCT a.docid
FROM tok a JOIN tok b ON b.docid = a.docid
WHERE a.term = '{t0}' AND b.term = '{t1}'
  AND abs(b.pos - a.pos - 1) <= {slop}"""
    )


def multi_phrase_sql(slot0: list[str], slot1: list[str], k: int = K) -> str:
    """2-slot MultiPhraseQuery: slot1 alternatives at slot0.pos + 1;
    freq = count of distinct start positions; weight = float32-ordered
    idf sum over every term of both slots (absent terms: df=0)."""
    w = _f32_lit(0.0)
    for t in list(slot0) + list(slot1):
        idf = _idf_expr(
            f"coalesce((SELECT df FROM term_stats WHERE term = '{t}'), 0)"
        )
        w = f"({w} + {idf})"
    k1p1 = f"({_f32_lit(1.2)} + {_f32_lit(1.0)})"
    in0 = ", ".join(f"'{t}'" for t in slot0)
    in1 = ", ".join(f"'{t}'" for t in slot1)
    return (
        bm25_prelude(with_positions=True)
        + f""",
w AS (SELECT {w} * {_f32_lit(1.0)} * {k1p1} AS w),
pfreq AS (
  SELECT a.docid, CAST(count(DISTINCT a.pos) AS INT) AS freq
  FROM tok a JOIN tok b ON b.docid = a.docid AND b.pos = a.pos + 1
  WHERE a.term IN ({in0}) AND b.term IN ({in1})
  GROUP BY a.docid
),
scored AS (
  SELECT p.docid,
         (SELECT w FROM w) * CAST(p.freq AS REAL)
           / (CAST(p.freq AS REAL) + c.c) AS s
  FROM pfreq p JOIN norms n ON p.docid = n.docid
  JOIN cache c ON c.nb = n.norm
)"""
        + _topk("scored", k)
    )


def regexp_terms_sql(pattern: str) -> str:
    """Dictionary expansion of RegexpQuery (anchored full-match)."""
    return (
        bm25_prelude()
        + f"\nSELECT term, df, ttf FROM term_stats WHERE regexp_full_match(term, '{pattern}')"
    )


def match_all_sql() -> str:
    """MatchAllDocsQuery: every doc, constant score = boost."""
    return (
        bm25_prelude()
        + f"""
SELECT docid, CAST({_f32_lit(1.0)} AS DOUBLE) AS score FROM doclen"""
    )


def field_value_filter_sql(term: str, meta_col: str, k: int = K) -> str:
    """FieldValueFilter: term query restricted to docs with a non-null
    field value (``Search/FieldValueFilter.cs``)."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
kept AS (
  SELECT s.docid, s.s FROM t0 s
  JOIN documents d ON CAST(d.doc_id AS BIGINT) = s.docid
  WHERE d.{meta_col} IS NOT NULL
)"""
        + _topk("kept", k)
    )


# ------------------------------------------------------- multi-field

TITLE_CHARS = 80  # the derived two-field corpus: title = first 80 chars


def _field_prelude(p: str, text_col: str) -> str:
    """Per-field BM25 CTE chain over the derived two-field table
    ``d2`` — same shapes as bm25_prelude, names prefixed ``{p}`` so two
    fields coexist in one WITH block (per-field df/avgdl/norms, the
    FieldInfos model). norm_decode/norm_table are shared (emitted once
    by mf_prelude)."""
    tok = duckdb_token_sql("d2", "doc_id", text_col, with_positions=False)
    return f"""
{p}tok AS ({tok}),
{p}postings AS (
  SELECT docid, term, CAST(count(*) AS INT) AS freq FROM {p}tok GROUP BY docid, term
),
{p}doclen AS (
  SELECT d.doc_id AS docid, CAST(coalesce(t.fl, 0) AS BIGINT) AS fl
  FROM d2 d
  LEFT JOIN (SELECT docid, count(*) AS fl FROM {p}tok GROUP BY docid) t
    ON d.doc_id = t.docid
),
{p}norms AS (
  SELECT docid, fl,
         CASE WHEN fl = 0 THEN 255 ELSE (
           SELECT max(b) FROM norm_decode
           WHERE val <= CAST(1.0 AS REAL)/CAST(sqrt(CAST(fl AS DOUBLE)) AS REAL)
         ) END AS norm
  FROM {p}doclen
),
{p}cstats AS (
  SELECT CAST(count(*) AS BIGINT) AS max_doc,
         CAST(CAST(coalesce(sum(fl), 0) AS DOUBLE) / count(*) AS REAL) AS avgdl
  FROM {p}doclen
),
{p}term_stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM {p}postings GROUP BY term
),
{p}cache AS (
  SELECT nb,
         {_f32_lit(1.2)} * (({_f32_lit(1.0)} - {_f32_lit(0.75)})
            + {_f32_lit(0.75)} * nt / (SELECT avgdl FROM {p}cstats)) AS c
  FROM norm_table
)"""


def mf_prelude() -> str:
    return f"""
WITH d2 AS (
  SELECT doc_id,
         substring(coalesce(text, ''), 1, {TITLE_CHARS}) AS title,
         coalesce(text, '') AS body
  FROM documents
),
norm_decode(b, val) AS (VALUES {_norm_decode_values()}),
norm_table(nb, nt) AS (VALUES {_norm_table_values()}),
{_field_prelude('t_', 'title')},
{_field_prelude('b_', 'body')}"""


def _mf_term_scores_cte(name: str, p: str, term: str, boost: float = 1.0) -> str:
    """CTE ``{name}(docid, s)``: float32 BM25 for one term in field
    ``{p}`` — this field's idf, avgdl cache, and norms."""
    idf = (
        f"CAST(ln(1 + ((SELECT max_doc FROM {p}cstats)"
        f" - (SELECT df FROM {p}term_stats WHERE term = '{term}') + 0.5)"
        f" / ((SELECT df FROM {p}term_stats WHERE term = '{term}') + 0.5)) AS REAL)"
    )
    k1p1 = f"({_f32_lit(1.2)} + {_f32_lit(1.0)})"
    return f"""{name}_w(w) AS (SELECT {idf} * {_f32_lit(boost)} * {k1p1}),
{name} AS (
  SELECT p.docid,
         (SELECT w FROM {name}_w) * CAST(p.freq AS REAL)
           / (CAST(p.freq AS REAL) + c.c) AS s
  FROM {p}postings p JOIN {p}norms n ON p.docid = n.docid
  JOIN {p}cache c ON c.nb = n.norm
  WHERE p.term = '{term}'
)"""


def multifield_term_query_sql(term: str, field_prefix: str = "t_", k: int = K) -> str:
    """One fielded term query (e.g. title:term) scored with that
    field's statistics."""
    return (
        mf_prelude()
        + ",\n" + _mf_term_scores_cte("f0", field_prefix, term)
        + _topk("f0", k)
    )


def multifield_dismax_sql(term: str, tie: float, k: int = K) -> str:
    """Cross-field DisMax of one term over (title, body) — the
    MultiFieldQueryParser shape; fold order = field order."""
    z = _f32_lit(0.0)
    return (
        mf_prelude()
        + ",\n" + _mf_term_scores_cte("c0", "t_", term)
        + ",\n" + _mf_term_scores_cte("c1", "b_", term)
        + f""",
merged AS (
  SELECT coalesce(c0.docid, c1.docid) AS docid,
         CAST(greatest(coalesce(c0.s, {z}), coalesce(c1.s, {z})) AS REAL) AS mx,
         ({z} + coalesce(c0.s, {z})) + coalesce(c1.s, {z}) AS acc
  FROM c0 FULL OUTER JOIN c1 ON c0.docid = c1.docid
),
scored AS (
  SELECT docid, (mx + (acc - mx) * {_f32_lit(tie)}) * {_f32_lit(1.0)} AS s
  FROM merged
)"""
        + _topk("scored", k)
    )


def multifield_boolean_sql(t_title: str, t_body: str, k: int = K) -> str:
    """+title:t0 +body:t1 — cross-field conjunction, clause scores
    folded ((0+s0)+s1) float32 in clause order."""
    return (
        mf_prelude()
        + ",\n" + _mf_term_scores_cte("c0", "t_", t_title)
        + ",\n" + _mf_term_scores_cte("c1", "b_", t_body)
        + f""",
merged AS (
  SELECT c0.docid, ({_f32_lit(0.0)} + c0.s) + c1.s AS s
  FROM c0 JOIN c1 ON c0.docid = c1.docid
)"""
        + _topk("merged", k)
    )


def mlt_topk_sql(
    docid: int,
    max_query_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    k: int = K,
) -> str:
    """MoreLikeThis top-k: the SHOULD-disjunction over the MLT-selected
    terms, scored with the engine's float32 clause-order fold. The term
    selection is the mlt_terms CTE; the fold uses list_reduce over
    clause-ordered REAL scores — float32(0)+s0 == s0 exactly, so
    reduce-from-first equals the engine's fold-from-zero."""
    k1p1 = f"({_f32_lit(1.2)} + {_f32_lit(1.0)})"
    return (
        bm25_prelude()
        + f""",
dtf AS (
  SELECT term, CAST(freq AS BIGINT) AS tf FROM postings
  WHERE docid = {docid} AND freq >= {min_term_freq}
),
sel AS (
  SELECT d.term, t.df,
         d.tf * (ln(CAST((SELECT max_doc FROM cstats) AS DOUBLE) / (t.df + 1)) + 1.0)
           AS mlt_score
  FROM dtf d JOIN term_stats t ON t.term = d.term
  WHERE t.df >= {min_doc_freq}
),
selk AS (
  SELECT term, df,
         row_number() OVER (ORDER BY mlt_score DESC, term ASC) AS cidx
  FROM sel ORDER BY mlt_score DESC, term ASC LIMIT {max_query_terms}
),
tw AS (
  SELECT term, cidx,
         {_idf_expr("df")} * {_f32_lit(1.0)} * {k1p1} AS w
  FROM selk
),
clause AS (
  SELECT p.docid, tw.cidx,
         tw.w * CAST(p.freq AS REAL) / (CAST(p.freq AS REAL) + c.c) AS s
  FROM postings p
  JOIN tw ON tw.term = p.term
  JOIN norms n ON p.docid = n.docid
  JOIN cache c ON c.nb = n.norm
),
folded AS (
  SELECT docid,
         list_reduce(list(s ORDER BY cidx), (x, y) -> x + y) * {_f32_lit(1.0)} AS s
  FROM clause GROUP BY docid
)"""
        + _topk("folded", k)
    )


def common_terms_split_sql(terms: list[str], max_term_frequency: float) -> str:
    """CommonTermsQuery low/high-df split decision per term."""
    lst = ", ".join(f"'{t}'" for t in terms)
    return (
        bm25_prelude()
        + f"""
SELECT term, df,
       CAST(CASE WHEN df <= {max_term_frequency} * (SELECT max_doc FROM cstats)
            THEN 1 ELSE 0 END AS BIGINT) AS is_low
FROM term_stats WHERE term IN ({lst})"""
    )


def prefix_docs_sql(prefix: str) -> str:
    """ConstantScore(PrefixQuery): every doc containing a term with the
    prefix, uniform score = boost (MultiTermQuery CONSTANT_SCORE rewrite)."""
    return (
        bm25_prelude()
        + f"""
SELECT DISTINCT docid, CAST({_f32_lit(1.0)} AS DOUBLE) AS score
FROM postings WHERE term LIKE '{prefix}%'"""
    )


def wildcard_terms_sql(regex: str) -> str:
    """Dictionary expansion of a wildcard pattern: matching terms + stats."""
    return (
        bm25_prelude()
        + f"\nSELECT term, df, ttf FROM term_stats WHERE regexp_matches(term, '{regex}')"
    )


def fuzzy_terms_sql(
    term: str, max_edits: int = 2, transpositions: bool = False
) -> str:
    """Dictionary expansion of FuzzyQuery: terms within edit distance.
    transpositions=True mirrors the OSA dialect with DuckDB's
    damerau_levenshtein — full DL == OSA on every in-band pair of this
    corpus (tests/test_osa.py corpus sweep)."""
    fn = "damerau_levenshtein" if transpositions else "levenshtein"
    return (
        bm25_prelude()
        + f"\nSELECT term, df, ttf FROM term_stats WHERE {fn}(term, '{term}') <= {max_edits}"
    )


def term_range_sql(lower: str, upper: str) -> str:
    """TermRangeQuery dictionary slice [lower, upper)."""
    return (
        bm25_prelude()
        + f"\nSELECT term, df, ttf FROM term_stats WHERE term >= '{lower}' AND term < '{upper}'"
    )


def ib_term_query_sql(term: str, dist: str = "ll", k: int = K) -> str:
    """IBSimilarity term query mirror (similarity.py::IBLLSimilarity /
    IBSPLSimilarity): lambda = REAL(df+1)/REAL(N+1) (pure float32
    division), tfn = f32(freq * log2(1 + avgdl/dl)), then
    LL: s = f32(-ln(lambda/(tfn+lambda))) with the ratio in float32;
    SPL: s = f32(-ln((lambda^f32(tfn/(tfn+1)) - lambda)/(1-lambda)))
    with pow/ln in double — op-for-op with the numpy side."""
    lam = (
        f"(CAST((SELECT df FROM term_stats WHERE term = '{term}') + 1.0 AS REAL)"
        f" / CAST((SELECT max_doc FROM cstats) + 1.0 AS REAL))"
    )
    dl = "CAST(CAST(1.0 AS REAL) / (d.val * d.val) AS DOUBLE)"
    tfn = (
        f"CAST(CAST(p.freq AS DOUBLE)"
        f" * (ln(1.0 + CAST((SELECT avgdl FROM cstats) AS DOUBLE) / {dl})"
        f" / ln(2.0)) AS REAL)"
    )
    if dist == "ll":
        s = (
            f"CAST(-ln(CAST((SELECT v FROM lam)"
            f" / ({tfn} + (SELECT v FROM lam)) AS DOUBLE)) AS REAL)"
        )
    elif dist == "spl":
        expo = f"CAST({tfn} / ({tfn} + CAST(1.0 AS REAL)) AS DOUBLE)"
        lam_d = "CAST((SELECT v FROM lam) AS DOUBLE)"
        s = (
            f"CAST(-ln((pow({lam_d}, {expo}) - {lam_d})"
            f" / (1.0 - {lam_d})) AS REAL)"
        )
    else:
        raise ValueError(dist)
    return (
        bm25_prelude()
        + f""",
lam AS (SELECT {lam} AS v),
scored AS (
  SELECT p.docid, {s} AS s
  FROM postings p JOIN norms n ON p.docid = n.docid
  JOIN norm_decode d ON d.b = n.norm
  WHERE p.term = '{term}'
)"""
        + _topk("scored", k)
    )


def lm_jm_term_query_sql(term: str, lam: float = 0.1, k: int = K) -> str:
    """LMJelinekMercerSimilarity mirror (similarity.py::
    LMJelinekMercerSimilarity): p = f32(ttf+1)/f32(sttf+1), the inner
    (1-lambda)*freq/docLen/(lambda*p) chain entirely in REAL (the C#
    runs it in float32), then ln in double truncated to REAL."""
    lam_lit = _f32_lit(lam)
    p = (
        f"(CAST((SELECT ttf FROM term_stats WHERE term = '{term}') + 1.0 AS REAL)"
        f" / CAST((SELECT sttf FROM cstats) + 1.0 AS REAL))"
    )
    dl = "CAST(CAST(1.0 AS REAL) / (d.val * d.val) AS REAL)"
    x = (
        f"(({_f32_lit(1.0)} - {lam_lit}) * CAST(p.freq AS REAL) / {dl}"
        f" / ({lam_lit} * (SELECT v FROM pw)))"
    )
    return (
        bm25_prelude()
        + f""",
pw AS (SELECT {p} AS v),
scored AS (
  SELECT p.docid,
         CAST(ln(CAST({_f32_lit(1.0)} + {x} AS DOUBLE)) AS REAL) AS s
  FROM postings p JOIN norms n ON p.docid = n.docid
  JOIN norm_decode d ON d.b = n.norm
  WHERE p.term = '{term}'
)"""
        + _topk("scored", k)
    )


def _mf_classic_scores_cte(name: str, p: str, term: str, boost: float = 1.0) -> str:
    """CTE ``{name}(docid, s)``: float32 ClassicSimilarity (TFIDF)
    for one term in field ``{p}`` — idf = f32(ln(maxDoc/(df+1))+1),
    s = (idf*idf*boost) * f32(sqrt(freq)) * byte315 norm."""
    idf = (
        f"CAST(ln(CAST((SELECT max_doc FROM {p}cstats) AS DOUBLE)"
        f" / ((SELECT df FROM {p}term_stats WHERE term = '{term}') + 1)) + 1.0 AS REAL)"
    )
    return f"""{name}_w(w) AS (SELECT ({idf} * {idf}) * {_f32_lit(boost)}),
{name} AS (
  SELECT p.docid,
         ((SELECT w FROM {name}_w) * CAST(sqrt(CAST(p.freq AS DOUBLE)) AS REAL))
           * d.val AS s
  FROM {p}postings p JOIN {p}norms n ON p.docid = n.docid
  JOIN norm_decode d ON d.b = n.norm
  WHERE p.term = '{term}'
)"""


def per_field_sim_dismax_sql(term: str, tie: float, k: int = K) -> str:
    """PerFieldSimilarityWrapper mirror: cross-field DisMax where the
    title field scores with ClassicSimilarity and the body field with
    BM25 — same float32 dismax fold as multifield_dismax_sql."""
    z = _f32_lit(0.0)
    return (
        mf_prelude()
        + ",\n" + _mf_classic_scores_cte("c0", "t_", term)
        + ",\n" + _mf_term_scores_cte("c1", "b_", term)
        + f""",
merged AS (
  SELECT coalesce(c0.docid, c1.docid) AS docid,
         CAST(greatest(coalesce(c0.s, {z}), coalesce(c1.s, {z})) AS REAL) AS mx,
         ({z} + coalesce(c0.s, {z})) + coalesce(c1.s, {z}) AS acc
  FROM c0 FULL OUTER JOIN c1 ON c0.docid = c1.docid
),
scored AS (
  SELECT docid, (mx + (acc - mx) * {_f32_lit(tie)}) * {_f32_lit(1.0)} AS s
  FROM merged
)"""
        + _topk("scored", k)
    )


def dfr_generic_term_query_sql(
    term: str,
    basic_model: str = "in",
    after_effect: str = "l",
    normalization: str = "h2",
    k: int = K,
) -> str:
    """Compositional DFR mirror (similarity.py::DFRSimilarity).
    Linear basic models fold with the after-effect constant into one
    double weight truncated to REAL; tfn per normalization; G packs
    lambda and rebuilds its nonlinear form in SQL — all op-for-op
    with the numpy side."""
    n = "CAST((SELECT max_doc FROM cstats) AS DOUBLE)"
    df_ = f"(SELECT df FROM term_stats WHERE term = '{term}')"
    ttf = f"(SELECT ttf FROM term_stats WHERE term = '{term}')"
    dl = "CAST(CAST(1.0 AS REAL) / (d.val * d.val) AS DOUBLE)"
    if normalization == "h1":
        tfn = f"(CAST(p.freq AS DOUBLE) * (CAST((SELECT avgdl FROM cstats) AS DOUBLE) / {dl}))"
    elif normalization == "z":
        tfn = (
            f"(CAST(p.freq AS DOUBLE)"
            f" * pow(CAST((SELECT avgdl FROM cstats) AS DOUBLE) / {dl}, 0.30))"
        )
    else:
        tfn = (
            f"(CAST(p.freq AS DOUBLE)"
            f" * (ln(1.0 + CAST((SELECT avgdl FROM cstats) AS DOUBLE) / {dl})"
            f" / ln(2.0)))"
        )
    if basic_model in ("p", "d", "be"):
        # nonlinear models (similarity.py::DFRSimilarity score): the
        # packed per-term scalar (lambda for P, ttf for D/Be) goes
        # through the same f32 truncation as the engine's weight slot
        if basic_model == "p":
            lam = (
                f"CAST(CAST(CAST(({ttf} + 1.0) AS REAL)"
                f" / CAST(({n} + 1.0) AS REAL) AS REAL) AS DOUBLE)"
            )
            bm = (
                f"({tfn} * (ln({tfn} / {lam}) / ln(2.0))"
                f" + ({lam} + 1.0 / (12.0 * {tfn}) - {tfn})"
                f" * (ln(exp(1.0)) / ln(2.0))"
                f" + 0.5 * (ln(2.0 * pi() * {tfn}) / ln(2.0)))"
            )
        elif basic_model == "d":
            ttf32 = f"CAST(CAST({ttf} AS REAL) AS DOUBLE)"
            bigf = f"({ttf32} + 1.0 + {tfn})"
            phi = f"({tfn} / {bigf})"
            nphi = f"(1.0 - {phi})"
            pp = f"(1.0 / ({n} + 1.0))"
            dkl = (
                f"({phi} * (ln({phi} / {pp}) / ln(2.0))"
                f" + {nphi} * (ln({nphi} / (1.0 - {pp})) / ln(2.0)))"
            )
            bm = (
                f"({dkl} * {bigf}"
                f" + 0.5 * (ln(1.0 + 2.0 * pi() * {tfn} * {nphi}) / ln(2.0)))"
            )
        else:  # be
            ttf32 = f"CAST(CAST({ttf} AS REAL) AS DOUBLE)"
            bigf = f"({ttf32} + 1.0 + {tfn})"
            bign = f"({bigf} + {n})"

            def fh(nn, mm):
                return (
                    f"(({mm} + 0.5) * (ln({nn} / {mm}) / ln(2.0))"
                    f" + ({nn} - {mm}) * (ln({nn}) / ln(2.0)))"
                )

            bm = (
                f"(-(ln(({bign} - 1.0) * exp(1.0)) / ln(2.0))"
                f" + {fh(f'({bign} + {bigf} - 1.0)', f'({bign} + {bigf} - {tfn} - 2.0)')}"
                f" - {fh(bigf, f'({bigf} - {tfn})')})"
            )
        s = f"CAST({bm} / (1.0 + {tfn}) AS REAL)"
        return (
            bm25_prelude()
            + f""",
scored AS (
  SELECT p.docid, {s} AS s
  FROM postings p JOIN norms n ON p.docid = n.docid
  JOIN norm_decode d ON d.b = n.norm
  WHERE p.term = '{term}'
)"""
            + _topk("scored", k)
        )
    if basic_model == "g":
        lam = f"CAST(CAST(({ttf} + 1.0) / ({n} + {ttf} + 1.0) AS REAL) AS DOUBLE)"
        s = (
            f"CAST((ln(1.0 + {lam}) / ln(2.0)"
            f" + {tfn} * (ln((1.0 + {lam}) / {lam}) / ln(2.0)))"
            f" / (1.0 + {tfn}) AS REAL)"
        )
        return (
            bm25_prelude()
            + f""",
scored AS (
  SELECT p.docid, {s} AS s
  FROM postings p JOIN norms n ON p.docid = n.docid
  JOIN norm_decode d ON d.b = n.norm
  WHERE p.term = '{term}'
)"""
            + _topk("scored", k)
        )
    if basic_model == "in":
        bm = f"(ln(({n} + 1.0) / ({df_} + 0.5)) / ln(2.0))"
    elif basic_model == "if":
        bm = f"(ln(1.0 + ({n} + 1.0) / ({ttf} + 0.5)) / ln(2.0))"
    else:  # ine
        ne = f"({n} * (1.0 - pow(({n} - 1.0) / {n}, {ttf})))"
        bm = f"(ln(({n} + 1.0) / ({ne} + 0.5)) / ln(2.0))"
    w = bm
    if after_effect == "b":
        w = f"({bm} * (({ttf} + 2.0) / ({df_} + 1.0)))"
    return (
        bm25_prelude()
        + f""",
w AS (SELECT CAST({w} AS REAL) AS v),
scored AS (
  SELECT p.docid,
         CAST(CAST((SELECT v FROM w) AS DOUBLE) * {tfn} / (1.0 + {tfn}) AS REAL) AS s
  FROM postings p JOIN norms n ON p.docid = n.docid
  JOIN norm_decode d ON d.b = n.norm
  WHERE p.term = '{term}'
)"""
        + _topk("scored", k)
    )


def nb_classify_sql(
    max_input_doc: int = 50, class_col: str = "source"
) -> str:
    """Mirror of classification.py::naive_bayes_classify over the
    documents table (train = all docs, inputs = doc_id < max_input_doc):
    same fixed-point floor(ln(p)*1e6) arithmetic, add-1 smoothing,
    den = (sumDocFreq/docCount)*ndocs_c + total, argmax with
    class-ascending tie-break — integer sums, so hash-exact."""
    tok = duckdb_token_sql("documents", "doc_id", "text")
    fp = "1000000"
    return f"""
WITH rawtok AS ({tok}),
ttok AS (SELECT docid, term, CAST(count(*) AS BIGINT) AS tf
         FROM rawtok GROUP BY docid, term),
labeled AS (
  SELECT CAST(doc_id AS BIGINT) AS docid, {class_col} AS cls
  FROM documents WHERE {class_col} IS NOT NULL
),
consts AS (
  SELECT CAST((SELECT count(*) FROM ttok) AS DOUBLE)
         / CAST((SELECT count(*) FROM documents WHERE text IS NOT NULL) AS DOUBLE)
         AS avg_unique,
         (SELECT count(*) FROM labeled) AS total
),
classes AS (
  SELECT cls, CAST(count(*) AS BIGINT) AS ndocs FROM labeled GROUP BY cls
),
cdim AS (
  SELECT c.cls,
         ((SELECT avg_unique FROM consts) * c.ndocs)
           + (SELECT total FROM consts) AS den,
         CAST(floor(ln(CAST(c.ndocs AS DOUBLE)) * {fp}) AS BIGINT)
           - CAST(floor(ln(CAST((SELECT total FROM consts) AS DOUBLE)) * {fp}) AS BIGINT)
           AS prior_fp
  FROM classes c
),
wf AS (
  SELECT t.term, l.cls, CAST(count(*) AS BIGINT) AS wf
  FROM ttok t JOIN labeled l ON l.docid = t.docid
  GROUP BY t.term, l.cls
),
itok AS (SELECT docid, term, tf FROM ttok WHERE docid < {max_input_doc}),
grid AS (
  SELECT i.docid, c.cls, c.prior_fp,
         i.tf * CAST(floor(ln((coalesce(w.wf, 0) + 1.0) / c.den) * {fp}) AS BIGINT)
           AS c_fp
  FROM itok i CROSS JOIN cdim c
  LEFT JOIN wf w ON w.term = i.term AND w.cls = c.cls
),
scores AS (
  SELECT docid, cls, prior_fp, CAST(sum(c_fp) AS BIGINT) AS ll_fp
  FROM grid GROUP BY docid, cls, prior_fp
)
SELECT docid AS doc_id, cls AS label,
       CAST(prior_fp + ll_fp AS BIGINT) AS score_fp
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY docid ORDER BY (prior_fp + ll_fp) DESC, cls ASC
  ) AS rn
  FROM scores
) WHERE rn = 1"""


def knn_classify_sql(
    docid: int = 0,
    k: int = 10,
    max_query_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    class_col: str = "source",
) -> str:
    """Mirror of classification.py::knn_classify: majority vote over
    the MLT top-k neighbors' stored class, ties to the smallest
    class."""
    mlt = mlt_topk_sql(docid, max_query_terms, min_term_freq, min_doc_freq, k)
    return f"""
SELECT d.{class_col} AS label, CAST(count(*) AS BIGINT) AS votes
FROM ({mlt}) m JOIN documents d ON CAST(d.doc_id AS BIGINT) = m.docid
GROUP BY d.{class_col}
ORDER BY votes DESC, label ASC
LIMIT 1"""


_SPATIAL_POINTS = """
pts AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         CAST((CAST(doc_id AS BIGINT) * 2654435761) % 1800001 AS DOUBLE)
           / 10000.0 - 90.0 AS lat,
         CAST((CAST(doc_id AS BIGINT) * 2246822519) % 3600001 AS DOUBLE)
           / 10000.0 - 180.0 AS lon
  FROM documents
)"""

_D2R = "0.017453292519943295"


def _hav_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """float32 haversine km, op-for-op with spatial.py::_haversine_udf
    (double math, explicit deg->rad literal, sqrt clamped, f32 cast)."""
    dp = f"(({lat2}) - ({lat1})) * {_D2R}"
    dl = f"(({lon2}) - ({lon1})) * {_D2R}"
    h = (
        f"pow(sin(({dp}) / 2.0), 2)"
        f" + cos(({lat1}) * {_D2R}) * cos(({lat2}) * {_D2R})"
        f" * pow(sin(({dl}) / 2.0), 2)"
    )
    return f"CAST(2.0 * 6371.0 * asin(least(sqrt({h}), 1.0)) AS REAL)"


def spatial_bbox_sql(
    min_lat: float, max_lat: float, min_lon: float, max_lon: float
) -> str:
    """Mirror of spatial.py::bbox_query over the synthetic points."""
    return f"""
WITH {_SPATIAL_POINTS}
SELECT id, lat, lon FROM pts
WHERE lat BETWEEN {min_lat} AND {max_lat}
  AND lon BETWEEN {min_lon} AND {max_lon}
ORDER BY id"""


def spatial_polygon_sql(wkt: str) -> str:
    """Mirror of spatial.py::polygon_contains_query — the same
    division-free even-odd ray cast (straddle AND sign(t) == sign(dy))
    as a SUM over the literal edge list; pure double comparisons, no
    float rounding anywhere, so hash-exact."""
    from lucenenet_spark.spatial import parse_wkt_polygon, _polygon_edges

    rings = parse_wkt_polygon(wkt)
    edges = _polygon_edges(rings)
    xs = [x for x, _ in rings[0]]
    ys = [y for _, y in rings[0]]
    vals = ", ".join(f"({x1}, {y1}, {x2}, {y2})" for x1, y1, x2, y2 in edges)
    t = "((e.x2 - e.x1) * (c.lat - e.y1) - (c.lon - e.x1) * (e.y2 - e.y1))"
    return f"""
WITH {_SPATIAL_POINTS},
cand AS (
  SELECT id, lat, lon FROM pts
  WHERE lat BETWEEN {min(ys)} AND {max(ys)}
    AND lon BETWEEN {min(xs)} AND {max(xs)}
),
edges(x1, y1, x2, y2) AS (VALUES {vals}),
cr AS (
  SELECT c.id, c.lat, c.lon,
         SUM(CASE WHEN ((e.y1 > c.lat) != (e.y2 > c.lat))
                   AND (({t} > 0.0) = (e.y2 > e.y1))
                  THEN 1 ELSE 0 END) AS n
  FROM cand c CROSS JOIN edges e
  GROUP BY c.id, c.lat, c.lon
)
SELECT id, lat, lon FROM cr WHERE n % 2 = 1 ORDER BY id"""


def spatial_distance_topk_sql(qlat: float, qlon: float, k: int = 10) -> str:
    """Mirror of spatial.py::distance_topk."""
    d = _hav_sql(str(float(qlat)), str(float(qlon)), "lat", "lon")
    return f"""
WITH {_SPATIAL_POINTS},
scored AS (SELECT id, {d} AS dist_km FROM pts)
SELECT CAST(row_number() OVER (ORDER BY dist_km ASC, id ASC) AS BIGINT) AS rank,
       id, CAST(dist_km AS DOUBLE) AS dist_km
FROM scored ORDER BY dist_km ASC, id ASC LIMIT {k}"""


def spatial_distance_join_sql(radius_km: float) -> str:
    """Mirror of spatial.py::distance_join — the oracle form is the
    exact all-pairs filter (correct by definition at oracle scale;
    the Spark side must find exactly the same pairs through its
    banded join)."""
    d = _hav_sql("a.lat", "a.lon", "b.lat", "b.lon")
    return f"""
WITH {_SPATIAL_POINTS}
SELECT a.id AS id_a, b.id AS id_b, CAST({d} AS DOUBLE) AS dist_km
FROM pts a JOIN pts b ON a.id < b.id
WHERE {d} <= CAST({float(radius_km)} AS REAL)
ORDER BY id_a, id_b"""


def synonym_index_term_sql(synonyms, term: str, k: int = K) -> str:
    """Term query over a synonym-INJECTED index: the token relation is
    augmented (bm25_prelude(synonyms=...)) so df/tf/ttf include the
    injected occurrences while norms stay base-token-only."""
    return (
        bm25_prelude(synonyms=synonyms)
        + ",\n"
        + _term_scores_cte("t0", term)
        + _topk("t0", k)
    )


def shingle_term_query_sql(term: str, shingles: int = 2, k: int = K) -> str:
    """Term query over a shingled index — the phrase-as-one-term path."""
    return (
        bm25_prelude(shingles=shingles)
        + ",\n"
        + _term_scores_cte("t0", term)
        + _topk("t0", k)
    )


def high_freq_terms_sql(k: int = 10, order_by: str = "df") -> str:
    return (
        bm25_prelude()
        + f"""
SELECT term, df, ttf FROM term_stats
ORDER BY {order_by} DESC, term ASC LIMIT {k}"""
    )


def duplicate_filter_sql(
    term: str, key_col: str, keep: str = "first", k: int = K
) -> str:
    agg = "min" if keep == "first" else "max"
    return (
        bm25_prelude()
        + ",\n"
        + _term_scores_cte("t0", term)
        + f""",
keepers AS (
  SELECT {agg}(doc_id) AS docid FROM documents
  WHERE {key_col} IS NOT NULL GROUP BY {key_col}
),
flt AS (SELECT t0.docid, t0.s FROM t0 JOIN keepers USING (docid))"""
        + _topk("flt", k)
    )


def boosting_query_sql(
    match_term: str, ctx_term: str, demote_boost: float = 0.5, k: int = K
) -> str:
    return (
        bm25_prelude()
        + ",\n"
        + _term_scores_cte("t0", match_term)
        + f""",
ctx AS (SELECT DISTINCT docid FROM postings WHERE term = '{ctx_term}'),
boosted AS (
  SELECT t0.docid,
         CASE WHEN ctx.docid IS NOT NULL
              THEN t0.s * {_f32_lit(demote_boost)}
              ELSE t0.s END AS s
  FROM t0 LEFT JOIN ctx ON ctx.docid = t0.docid
)"""
        + _topk("boosted", k)
    )


def simple_parse_sql(t0: str, t1: str, t2: str, k: int = K) -> str:
    """Mirror of parse_simple('t0 + t1 | t2') = (t0 AND t1) OR t2:
    inner conjunction fold ((0+s0)+s1), then the disjunction fold adds
    the outer clauses in order — float32 op order matching the
    engine's nested boolean evaluation."""
    z = _f32_lit(0.0)
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("c0", t0)
        + ",\n" + _term_scores_cte("c1", t1)
        + ",\n" + _term_scores_cte("c2", t2)
        + f""",
inner_and AS (
  SELECT c0.docid, ({z} + c0.s) + c1.s AS s
  FROM c0 JOIN c1 ON c0.docid = c1.docid
),
merged AS (
  SELECT coalesce(a.docid, c2.docid) AS docid,
         ({z} + coalesce(a.s, {z})) + coalesce(c2.s, {z}) AS s
  FROM inner_and a FULL OUTER JOIN c2 ON a.docid = c2.docid
)"""
        + _topk("merged", k)
    )


def stemmed_term_class_sql(stem_class: list[str], k: int = K) -> str:
    """BM25 top-k for a TermQuery over a snowball-stemmed index,
    recomputed from the RAW text: the stemmed index's posting row for
    the target stem equals, doc-by-doc, the count of raw tokens in the
    stem CLASS (the finite, stemmer-verified set of ASCII surface
    forms — analysis/snowball.py::german_stem_class). The snowball
    pipeline applies NO stop filter, so doc lengths / norms count ALL
    tokens (unlike bm25_prelude); on the ASCII test corpus its Unicode
    tokenizer matches the pinned ASCII regex. If the engine ever
    stemmed some other token into the class, df/tf here would diverge
    and the compare would fail — genuine cross-engine verification."""
    from lucenenet_spark.analysis.analyzer import (
        MAX_TOKEN_LENGTH,
        TOKEN_PATTERN,
        _sql_quote_regex,
    )

    re_sql = _sql_quote_regex(TOKEN_PATTERN)
    in_list = ", ".join(f"'{w}'" for w in stem_class)
    k1p1 = f"({_f32_lit(1.2)} + {_f32_lit(1.0)})"
    idf = _idf_expr("(SELECT df FROM class_stats)")
    return (
        f"""
WITH tok AS (
  SELECT doc_id AS docid,
         unnest(list_filter(regexp_extract_all(lower(text), '{re_sql}'),
                            x -> length(x) <= {MAX_TOKEN_LENGTH})) AS term
  FROM documents
),
postings AS (
  SELECT docid, term, CAST(count(*) AS INT) AS freq FROM tok
  GROUP BY docid, term
),
doclen AS (
  SELECT d.doc_id AS docid, CAST(coalesce(t.fl, 0) AS BIGINT) AS fl
  FROM documents d
  LEFT JOIN (SELECT docid, count(*) AS fl FROM tok GROUP BY docid) t
    ON d.doc_id = t.docid
),{_prelude_tail()},
cpost AS (
  SELECT docid, CAST(count(*) AS INT) AS freq FROM tok
  WHERE term IN ({in_list}) GROUP BY docid
),
class_stats AS (
  SELECT CAST(count(*) AS BIGINT) AS df FROM cpost
),
t0 AS (
  SELECT p.docid,
         ({idf} * {_f32_lit(1.0)} * {k1p1}) * CAST(p.freq AS REAL)
           / (CAST(p.freq AS REAL) + c.c) AS s
  FROM cpost p JOIN norms n ON p.docid = n.docid
  JOIN cache c ON c.nb = n.norm
)"""
        + _topk("t0", k)
    )


def standard_parse_sql(t0: str, t1: str, t2: str, k: int = K) -> str:
    """Mirror of parse_standard('t0 OR t1 AND t2') = t0 OR (t1 AND t2)
    — the flexible StandardQueryParser's precedence grammar
    (StandardSyntaxParser.cs:170: AND binds tighter than OR), which the
    Classic parser would instead flat-fold to (SHOULD t0, MUST t1,
    MUST t2). Outer disjunction fold in clause order: (0 + s_t0) +
    s_and, float32 op order matching the engine's nested boolean
    evaluation."""
    z = _f32_lit(0.0)
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("c0", t0)
        + ",\n" + _term_scores_cte("c1", t1)
        + ",\n" + _term_scores_cte("c2", t2)
        + f""",
inner_and AS (
  SELECT c1.docid, ({z} + c1.s) + c2.s AS s
  FROM c1 JOIN c2 ON c1.docid = c2.docid
),
merged AS (
  SELECT coalesce(c0.docid, a.docid) AS docid,
         ({z} + coalesce(c0.s, {z})) + coalesce(a.s, {z}) AS s
  FROM c0 FULL OUTER JOIN inner_and a ON c0.docid = a.docid
)"""
        + _topk("merged", k)
    )


def complex_phrase2_sql(t0: str, prefix1: str, slop: int = 0) -> str:
    """ComplexPhrase '"t0 prefix1*"~slop': 2-clause ordered near with
    the second slot prefix-expanded; per-start counting (a start
    counts iff ANY expansion position fits the slop window)."""
    return (
        bm25_prelude(with_positions=True)
        + f"""
SELECT a.docid, CAST(count(DISTINCT a.pos) AS BIGINT) AS n_spans
FROM tok a JOIN tok b ON b.docid = a.docid
WHERE a.term = '{t0}' AND b.term LIKE '{prefix1}%'
  AND b.pos > a.pos AND b.pos - a.pos - 1 <= {slop}
GROUP BY a.docid"""
    )


def complex_phrase3_sql(
    t0: str, set1: list[str], prefix2: str, slop: int
) -> str:
    """ComplexPhrase '"t0 (set1...) prefix2*"~slop': greedy minimal-end
    chain (spans.py pinned ordered spec) with slot 1 an OR-set and
    slot 2 prefix-expanded."""
    in1 = ", ".join(f"'{t}'" for t in set1)
    return (
        bm25_prelude(with_positions=True)
        + f"""
SELECT docid, CAST(count(*) AS BIGINT) AS n_spans FROM (
  SELECT s.docid, s.p0, s.p1,
         (SELECT min(c.pos) FROM tok c
          WHERE c.docid = s.docid AND c.term LIKE '{prefix2}%'
            AND c.pos > s.p1) AS p2
  FROM (
    SELECT a.docid, a.pos AS p0,
           (SELECT min(b.pos) FROM tok b
            WHERE b.docid = a.docid AND b.term IN ({in1})
              AND b.pos > a.pos) AS p1
    FROM tok a WHERE a.term = '{t0}'
  ) s
  WHERE s.p1 IS NOT NULL
)
WHERE p2 IS NOT NULL AND p2 - p0 - 2 <= {slop}
GROUP BY docid"""
    )


def facet_sum_value_sql(term: str, facet_col: str, value_col: str) -> str:
    """Association facets: per category, sum a stored numeric value
    over the docs matching the query."""
    return (
        bm25_prelude()
        + f""",
hits AS (SELECT DISTINCT docid FROM postings WHERE term = '{term}')
SELECT d.{facet_col} AS {facet_col},
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d.{value_col}) AS BIGINT) AS sum_value
FROM documents d JOIN hits h ON h.docid = d.doc_id
GROUP BY d.{facet_col}
ORDER BY sum_value DESC, {facet_col} ASC"""
    )


def edge_ngram_term_sql(
    term: str, min_gram: int = 2, max_gram: int = 4, k: int = K
) -> str:
    """Term query over an edge-gram index — prefix search as one exact
    term lookup."""
    return (
        bm25_prelude(edge_ngram=(min_gram, max_gram))
        + ",\n"
        + _term_scores_cte("t0", term)
        + _topk("t0", k)
    )


def _flt_variants_ctes(
    query_string: str,
    min_similarity: float,
    prefix_length: int,
    max_num_terms: int,
) -> str:
    """Shared CTEs mirroring search/flt.py::_fuzzy_variants: source
    terms (analyzed HERE with the same pipeline), per-source fuzzy
    variants with float32 similarity, per-source top-50, source-df (or
    C#-int-division average), DefaultSimilarity idf, float32 boosts,
    global top max_num_terms in the pinned clause order."""
    from lucenenet_spark.analysis.analyzer import analyze

    src = list(dict.fromkeys(t for t, _ in analyze(query_string)))
    src_values = ", ".join(
        f"('{t}', {i})" for i, t in enumerate(src)
    )
    pfx = (
        f"substr(d.term, 1, {prefix_length}) = substr(s.sterm, 1, {prefix_length})"
        if prefix_length > 0
        else "TRUE"
    )
    return f""",
src(sterm, sidx) AS (VALUES {src_values}),
flt_cand AS (
  SELECT s.sterm, s.sidx, d.term AS variant, d.df AS vdf,
         CAST(1.0 AS REAL)
           - CAST(levenshtein(d.term, s.sterm) AS REAL)
             / CAST(least(length(d.term), length(s.sterm)) AS REAL) AS sim
  FROM term_stats d JOIN src s ON {pfx}
),
flt_kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY sterm ORDER BY sim DESC, variant ASC
    ) AS rn
    FROM flt_cand WHERE sim > CAST({min_similarity!r} AS REAL)
  ) WHERE rn <= 50
),
flt_df AS (
  SELECT k.sterm,
         coalesce(
           nullif((SELECT df FROM term_stats t WHERE t.term = k.sterm), 0),
           CAST(sum(k.vdf) AS BIGINT) // CAST(count(*) AS BIGINT)
         ) AS df
  FROM flt_kept k GROUP BY k.sterm
),
flt_boosted AS (
  SELECT k.variant, k.sidx,
         CAST(CAST(k.sim * k.sim AS REAL)
              * CAST(ln(CAST((SELECT max_doc FROM cstats) AS DOUBLE)
                        / CAST(f.df + 1 AS DOUBLE)) + 1.0 AS REAL)
              AS REAL) AS boost
  FROM flt_kept k JOIN flt_df f ON f.sterm = k.sterm
),
flt_clauses AS (
  SELECT variant, boost,
         row_number() OVER (ORDER BY boost DESC, variant ASC, sidx ASC) - 1 AS cidx
  FROM flt_boosted
  ORDER BY cidx
  LIMIT {max_num_terms}
)"""


def fuzzy_like_this_terms_sql(
    query_string: str,
    min_similarity: float = 0.5,
    prefix_length: int = 0,
    max_num_terms: int = 50,
) -> str:
    """FuzzyLikeThisQuery rewrite product (flt.py pinned spec)."""
    return (
        bm25_prelude()
        + _flt_variants_ctes(query_string, min_similarity, prefix_length, max_num_terms)
        + """
SELECT CAST(cidx AS BIGINT) AS cidx, variant, CAST(boost AS DOUBLE) AS boost
FROM flt_clauses ORDER BY cidx"""
    )


def fuzzy_like_this_topk_sql(
    query_string: str,
    min_similarity: float = 0.5,
    prefix_length: int = 0,
    max_num_terms: int = 50,
    k: int = K,
) -> str:
    """FuzzyLikeThisQuery top-k (ignoreTF mode): per doc, the float32
    clause-order fold of its matching variants' boosts."""
    return (
        bm25_prelude()
        + _flt_variants_ctes(query_string, min_similarity, prefix_length, max_num_terms)
        + f""",
flt_scores AS (
  SELECT p.docid,
         list_reduce(
           list(CAST(c.boost AS REAL) ORDER BY c.cidx),
           (a, b) -> CAST(a + b AS REAL)
         ) AS s
  FROM postings p JOIN flt_clauses c ON c.variant = p.term
  GROUP BY p.docid
)
{_topk("flt_scores", k)}"""
    )


def sampled_facet_sql(term: str, facet_col: str, sample_pct: int = 10) -> str:
    """RandomSamplingFacetsCollector mirror: md5-prefix sampled facet
    counts + the integer-exact amortized correction."""
    from lucenenet_spark.ops.hashing import md5_prefix_int_sql

    h = md5_prefix_int_sql("CAST(h.docid AS VARCHAR)")
    return (
        bm25_prelude()
        + f""",
hits AS (SELECT DISTINCT docid FROM postings WHERE term = '{term}'),
sampled AS (SELECT docid FROM hits h WHERE {h} % 100 < {sample_pct}),
totals AS (
  SELECT (SELECT count(*) FROM hits) AS total,
         (SELECT count(*) FROM sampled) AS sample
)
SELECT d.{facet_col} AS {facet_col},
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST((count(*) * t.total) // t.sample AS BIGINT) AS est_docs
FROM documents d JOIN sampled s ON s.docid = d.doc_id, totals t
GROUP BY d.{facet_col}, t.total, t.sample
ORDER BY n_docs DESC, {facet_col} ASC"""
    )


def ngram_term_sql(
    term: str, min_gram: int = 3, max_gram: int = 4, k: int = K
) -> str:
    """Term query over an NGramTokenFilter index — an in-range infix
    literal as one exact term lookup."""
    return (
        bm25_prelude(ngram=(min_gram, max_gram))
        + ",\n"
        + _term_scores_cte("t0", term)
        + _topk("t0", k)
    )


def substring_docs_sql(literal: str) -> str:
    """First-principles substring match: the n-gram candidate+verify
    pipeline is EXACT for in-token literals, so the oracle is a plain
    contains() over the source text."""
    lit = literal.lower().replace("'", "''")
    return f"""
SELECT CAST(doc_id AS BIGINT) AS docid
FROM documents
WHERE contains(lower(text), '{lit}')
ORDER BY docid"""


def all_group_heads_sql(term: str, group_col: str) -> str:
    """Every group's best matching doc (score desc, docid asc)."""
    return (
        bm25_prelude()
        + ",\n"
        + _term_scores_cte("t0", term)
        + f"""
SELECT grp, docid, CAST(s AS DOUBLE) AS score FROM (
  SELECT d.{group_col} AS grp, t0.docid, t0.s,
         row_number() OVER (
           PARTITION BY d.{group_col}
           ORDER BY t0.s DESC, t0.docid ASC
         ) AS rn
  FROM t0 JOIN documents d ON d.doc_id = t0.docid
) WHERE rn = 1 ORDER BY grp"""
    )


def quality_metrics_sql(terms: dict[str, str], k: int = 10, cap: int = 3) -> str:
    """Mirror of quality.quality_metrics over freq_judgments: per
    query, P@k / MRR / NDCG@k (NDCG float32-truncated on both engines
    so libm last-ulp noise cannot flip the hash)."""
    items = sorted(terms.items())
    score_ctes = ",\n".join(
        _term_scores_cte(f"qs{i}", t) for i, (_, t) in enumerate(items)
    )
    ranked = "\n  UNION ALL\n".join(
        f"""  SELECT '{qid}' AS query_id, rank, docid FROM (
    SELECT CAST(row_number() OVER (ORDER BY s DESC, docid ASC) AS BIGINT) AS rank,
           docid
    FROM qs{i} ORDER BY s DESC, docid ASC LIMIT {k}
  )"""
        for i, (qid, _) in enumerate(items)
    )
    judg = "\n  UNION ALL\n".join(
        f"""  SELECT '{qid}' AS query_id, docid,
         CAST(least(freq - 1, {cap}) AS INT) AS rel
  FROM postings WHERE term = '{t}'"""
        for qid, t in items
    )
    return (
        bm25_prelude()
        + ",\n"
        + score_ctes
        + f""",
ranked AS (
{ranked}
),
jd AS (
{judg}
),
hits AS (
  SELECT r.query_id, r.rank, coalesce(j.rel, 0) AS rel,
         sum(CASE WHEN coalesce(j.rel, 0) > 0 THEN 1 ELSE 0 END) OVER (
           PARTITION BY r.query_id ORDER BY r.rank
         ) AS good_so_far
  FROM ranked r LEFT JOIN jd j
    ON j.query_id = r.query_id AND j.docid = r.docid
),
perq AS (
  SELECT query_id,
         CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST({k} AS DOUBLE) AS p_at_k,
         CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
         min(CASE WHEN rel > 0 THEN rank END) AS first_rel,
         sum((pow(2.0, CAST(rel AS DOUBLE)) - 1.0)
             / log2(CAST(rank AS DOUBLE) + 1.0)) AS dcg,
         sum(CASE WHEN rel > 0 THEN
               CAST(good_so_far AS DOUBLE) / CAST(rank AS DOUBLE)
             END) AS prec_sum
  FROM hits GROUP BY query_id
),
totals AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS max_good
  FROM jd WHERE rel > 0 GROUP BY query_id
),
ideal AS (
  SELECT query_id,
         sum((pow(2.0, CAST(rel AS DOUBLE)) - 1.0)
             / log2(CAST(irank AS DOUBLE) + 1.0)) AS idcg,
         CAST(count(*) AS BIGINT) AS n_rel
  FROM (
    SELECT query_id, rel,
           row_number() OVER (
             PARTITION BY query_id ORDER BY rel DESC, docid ASC
           ) AS irank
    FROM jd
  ) WHERE irank <= {k} AND rel > 0
  GROUP BY query_id
)
SELECT p.query_id,
       coalesce(i.n_rel, 0) AS n_rel,
       p.p_at_k,
       CASE WHEN p.first_rel IS NOT NULL
            THEN 1.0 / CAST(p.first_rel AS DOUBLE) ELSE 0.0 END AS mrr,
       CASE WHEN i.idcg IS NOT NULL AND i.idcg > 0
            THEN CAST(CAST(p.dcg / i.idcg AS REAL) AS DOUBLE)
            ELSE 0.0 END AS ndcg,
       CASE WHEN t.max_good IS NOT NULL AND t.max_good > 0
            THEN CAST(p.n_good AS DOUBLE) / CAST(t.max_good AS DOUBLE)
            ELSE 0.0 END AS recall,
       CASE WHEN t.max_good IS NOT NULL AND t.max_good > 0
                 AND p.prec_sum IS NOT NULL
            THEN CAST(CAST(p.prec_sum / CAST(t.max_good AS DOUBLE)
                           AS REAL) AS DOUBLE)
            ELSE 0.0 END AS avp
FROM perq p
LEFT JOIN ideal i ON i.query_id = p.query_id
LEFT JOIN totals t ON t.query_id = p.query_id
ORDER BY p.query_id"""
    )


def quality_summary_sql(terms: dict[str, str], k: int = 10, cap: int = 3) -> str:
    """QualityStats.Average mirror: wrap quality_metrics_sql and
    average every per-query metric (MAP = mean avp), float32-truncated
    like the engine."""
    inner = quality_metrics_sql(terms, k, cap)
    return f"""
WITH perq AS (
{inner}
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(CAST(avg(avp) AS REAL) AS DOUBLE) AS map,
       CAST(CAST(avg(p_at_k) AS REAL) AS DOUBLE) AS mean_p_at_k,
       CAST(CAST(avg(mrr) AS REAL) AS DOUBLE) AS mean_mrr,
       CAST(CAST(avg(ndcg) AS REAL) AS DOUBLE) AS mean_ndcg,
       CAST(CAST(avg(recall) AS REAL) AS DOUBLE) AS mean_recall
FROM perq"""


def free_text_suggest_sql(
    context: list[str],
    prefix: str = "",
    k: int = 5,
    grams: int = 3,
    alpha: float = 0.4,
) -> str:
    """Mirror of suggest.free_text_suggest (stupid-backoff n-gram LM):
    same tokenizer (no stop filter), same per-order counts, same
    driver-computed backoff literal, highest-order dedup, (score desc,
    term) top-k."""
    from lucenenet_spark.analysis.analyzer import _sql_quote_regex

    re_sql = _sql_quote_regex(TOKEN_PATTERN)
    ctes = [
        f"""toks AS (
  SELECT regexp_extract_all(lower(coalesce(text, '')), '{re_sql}') AS toks
  FROM documents
)"""
    ]
    branches = []
    for n in range(grams, 0, -1):
        ctx = context[-(n - 1):] if n > 1 else []
        if len(ctx) < n - 1:
            continue
        factor = repr(float(alpha ** (grams - n)))
        gram_list = (
            "toks"
            if n == 1
            else f"list_transform(range(1, len(toks) - {n} + 2),"
            f" i -> array_to_string(toks[i : i + {n - 1}], ' '))"
        )
        if n > 1:
            head = " ".join(ctx) + " "
            hq = head.replace("'", "''")
            pq = (head + prefix).replace("'", "''")
            ctes.append(
                f"""cand{n} AS (
  SELECT substr(gram, {len(head) + 1}) AS term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest({gram_list}) AS gram FROM toks)
  WHERE starts_with(gram, '{pq}') GROUP BY 1
)"""
            )
            ctx_list = (
                "toks"
                if n - 1 == 1
                else f"list_transform(range(1, len(toks) - {n - 1} + 2),"
                f" i -> array_to_string(toks[i : i + {n - 2}], ' '))"
            )
            ctxv = " ".join(ctx).replace("'", "''")
            ctes.append(
                f"""ctx{n} AS (
  SELECT CAST(count(*) AS BIGINT) AS cc
  FROM (SELECT unnest({ctx_list}) AS g2 FROM toks) WHERE g2 = '{ctxv}'
)"""
            )
        else:
            pq = prefix.replace("'", "''")
            ctes.append(
                f"""cand1 AS (
  SELECT gram AS term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS gram FROM toks)
  WHERE starts_with(gram, '{pq}') GROUP BY 1
)"""
            )
            ctes.append(
                """ctx1 AS (
  SELECT CAST(count(*) AS BIGINT) AS cc
  FROM (SELECT unnest(toks) AS t FROM toks)
)"""
            )
        branches.append(
            f"""  SELECT term, CAST({n} AS INT) AS ord,
         {factor} * (CAST(c AS DOUBLE) / CAST(cc AS DOUBLE)) AS score
  FROM cand{n}, ctx{n} WHERE cc > 0"""
        )
    union = "\n  UNION ALL\n".join(branches)
    return f"""
WITH {','.join(ctes)},
allc AS (
{union}
),
dedup AS (
  SELECT term, ord, score,
         row_number() OVER (PARTITION BY term ORDER BY ord DESC) AS rn
  FROM allc
)
SELECT term, ord, score FROM dedup WHERE rn = 1
ORDER BY score DESC, term ASC LIMIT {k}"""


def percolate_sql() -> str:
    """Mirror of the percolate driver entry's standing query set:
    term 'spark'; (+spark -merge); exact phrase "table hash";
    prefix 'par' — each an EXISTS-style distinct-docid select over
    the shared token CTE."""
    tok = duckdb_token_sql("documents", "doc_id", "text", with_positions=True)
    return f"""
WITH tok AS ({tok}),
m_term AS (SELECT DISTINCT docid FROM tok WHERE term = 'spark'),
m_bool AS (
  SELECT docid FROM m_term
  WHERE docid NOT IN (SELECT DISTINCT docid FROM tok WHERE term = 'merge')
),
m_phrase AS (
  SELECT DISTINCT a.docid
  FROM tok a JOIN tok b ON b.docid = a.docid AND b.pos = a.pos + 1
  WHERE a.term = 'table' AND b.term = 'hash'
),
m_prefix AS (SELECT DISTINCT docid FROM tok WHERE term LIKE 'par%')
SELECT doc_id, query_id FROM (
  SELECT docid AS doc_id, 'spark_term' AS query_id FROM m_term
  UNION ALL
  SELECT docid, 'spark_not_merge' FROM m_bool
  UNION ALL
  SELECT docid, 'table_hash_phrase' FROM m_phrase
  UNION ALL
  SELECT docid, 'par_prefix' FROM m_prefix
) ORDER BY doc_id, query_id"""


def sweetspot_term_query_sql(
    term: str,
    ln_min: int = 1,
    ln_max: int = 1,
    steepness: float = 0.5,
    tf_base: float = 0.0,
    tf_min: float = 0.0,
    k: int = K,
) -> str:
    """SweetSpotSimilarity term query mirror (similarity.py::
    SweetSpotSimilarity / reference SweetSpotSimilarity.cs):
    weight = classic idf^2, tf = baselineTf (all-f32 chain, sqrt in
    double, one truncation), lengthNorm = f32(1/sqrt(f32(steep *
    (|x-lo| + |x-hi| - (hi-lo))) + 1)) over x = f32(1/decode(norm)^2)."""
    idf = (
        f"CAST(ln(CAST((SELECT max_doc FROM cstats) AS DOUBLE)"
        f" / ((SELECT df FROM term_stats WHERE term = '{term}') + 1)) + 1.0 AS REAL)"
    )
    base2 = _f32_lit(float(np.float32(np.float32(tf_base) * np.float32(tf_base))))
    tfb = _f32_lit(tf_base)
    tfm = _f32_lit(tf_min)
    lo = _f32_lit(float(ln_min))
    hi = _f32_lit(float(ln_max))
    span = _f32_lit(float(np.float32(int(ln_max) - int(ln_min))))
    st = _f32_lit(steepness)
    x = "CAST(CAST(1.0 AS REAL) / (d.val * d.val) AS REAL)"
    tf = (
        f"(CASE WHEN p.freq = 0 THEN {_f32_lit(0.0)}"
        f" WHEN CAST(p.freq AS REAL) <= {tfm} THEN {tfb}"
        f" ELSE CAST(sqrt(CAST((CAST(p.freq AS REAL) + {base2}) - {tfm}"
        f" AS DOUBLE)) AS REAL) END)"
    )
    norm = (
        f"CAST(1.0 / sqrt(CAST(({st} * ((abs({x} - {lo}) + abs({x} - {hi}))"
        f" - {span})) + {_f32_lit(1.0)} AS DOUBLE)) AS REAL)"
    )
    return (
        bm25_prelude()
        + f""",
w AS (SELECT ({idf} * {idf}) * {_f32_lit(1.0)} AS w),
scored AS (
  SELECT p.docid, ((SELECT w FROM w) * {tf}) * {norm} AS s
  FROM postings p JOIN norms n ON p.docid = n.docid
  JOIN norm_decode d ON d.b = n.norm
  WHERE p.term = '{term}'
)"""
        + _topk("scored", k)
    )


def leading_wildcard_sql(suffix: str) -> str:
    """ConstantScore leading wildcard (*suffix) — every doc containing
    a term with the suffix, uniform score. Mirrors the reversed-index
    PrefixQuery rewrite (queries.py::leading_wildcard_query /
    ReverseStringFilter.cs:34): reverse(term) LIKE reverse(suffix)%
    == term LIKE %suffix."""
    return (
        bm25_prelude()
        + f"""
SELECT DISTINCT docid, CAST({_f32_lit(1.0)} AS DOUBLE) AS score
FROM postings WHERE term LIKE '%{suffix}'"""
    )


def word_breaks_sql(
    words: tuple[str, ...],
    max_suggestions: int = 10,
    min_freq: int = 1,
    min_break_length: int = 1,
    max_changes: int = 1,
) -> str:
    """WordBreakSpellChecker.SuggestWordBreaks mirror (search/spell.py):
    candidate splits enumerated exactly like the reference recursion
    (left fixed, recurse right), each part must have df >= min_freq,
    ranked per word by (n_changes, summed df desc, suggestion)."""
    from lucenenet_spark.search.spell import _break_candidates

    vals = []
    for w in words:
        for cid, parts in enumerate(_break_candidates(w, min_break_length, max_changes)):
            for idx, p in enumerate(parts):
                vals.append(f"('{w}', {cid}, {len(parts)}, {idx}, '{p}')")
    if not vals:
        return "SELECT CAST(NULL AS VARCHAR) AS word, CAST(NULL AS BIGINT) AS rank, CAST(NULL AS VARCHAR) AS suggestion, CAST(NULL AS INT) AS n_changes, CAST(NULL AS BIGINT) AS freq WHERE FALSE"
    return (
        bm25_prelude()
        + f""",
cand(word, cand, n_parts, idx, term) AS (VALUES {",".join(vals)}),
resolved AS (
  SELECT c.word, c.cand, c.n_parts,
         count(*) AS n_found, sum(t.df) AS freq,
         string_agg(c.term, ' ' ORDER BY c.idx) AS suggestion
  FROM cand c JOIN term_stats t ON c.term = t.term AND t.df >= {min_freq}
  GROUP BY c.word, c.cand, c.n_parts
),
qual AS (
  SELECT word, suggestion, CAST(n_parts - 1 AS INT) AS n_changes,
         CAST(freq AS BIGINT) AS freq,
         CAST(row_number() OVER (PARTITION BY word
              ORDER BY n_parts ASC, freq DESC, suggestion ASC) AS BIGINT) AS rank
  FROM resolved WHERE n_found = n_parts
)
SELECT word, rank, suggestion, n_changes, freq FROM qual
WHERE rank <= {max_suggestions}"""
    )


def word_combinations_sql(
    terms: tuple[str, ...],
    max_suggestions: int = 10,
    min_freq: int = 1,
    max_changes: int = 1,
    max_combine_length: int = 20,
) -> str:
    """WordBreakSpellChecker.SuggestWordCombinations mirror."""
    vals = []
    n = len(terms)
    for i in range(n):
        for j in range(i + 1, min(n, i + 1 + max_changes)):
            combined = "".join(terms[i : j + 1])
            if len(combined) <= max_combine_length:
                vals.append(f"({i}, {j - i + 1}, '{combined}')")
    return (
        bm25_prelude()
        + f""",
cand(start, length, term) AS (VALUES {",".join(vals)})
SELECT c.start, c.length, c.term AS combined, CAST(t.df AS BIGINT) AS freq
FROM cand c JOIN term_stats t ON c.term = t.term AND t.df >= {min_freq}
ORDER BY freq DESC, c.start ASC
LIMIT {max_suggestions}"""
    )


def phonetic_terms_sql(name: str) -> str:
    """Sounds-like dictionary expansion (queries.py::PhoneticQuery):
    terms whose pinned-spec soundex equals the query name's code."""
    from lucenenet_spark.analysis.phonetic import soundex_py, soundex_sql

    return (
        bm25_prelude()
        + f"\nSELECT term, df, ttf FROM term_stats"
        f" WHERE {soundex_sql('term')} = '{soundex_py(name)}'"
    )


def phonetic_docs_sql(name: str) -> str:
    """ConstantScore(PhoneticQuery) — docs containing a sounds-like
    term, uniform score."""
    from lucenenet_spark.analysis.phonetic import soundex_py, soundex_sql

    return (
        bm25_prelude()
        + f"""
SELECT DISTINCT docid, CAST({_f32_lit(1.0)} AS DOUBLE) AS score
FROM postings WHERE {soundex_sql('term')} = '{soundex_py(name)}'"""
    )


def slow_fuzzy_terms_sql(term: str, minimum_similarity: float) -> str:
    """SlowFuzzyQuery dictionary expansion mirror (queries.py::
    SlowFuzzyQuery): absolute edit budget when >= 1, else the
    length-scaled pre-4.0 similarity threshold."""
    if minimum_similarity >= 1.0:
        return (
            bm25_prelude()
            + f"\nSELECT term, df, ttf FROM term_stats"
            f" WHERE levenshtein(term, '{term}') <= {int(minimum_similarity)}"
        )
    return (
        bm25_prelude()
        + f"""
SELECT term, df, ttf FROM term_stats
WHERE 1.0 - CAST(levenshtein(term, '{term}') AS DOUBLE)
          / least(length(term), {len(term)}) >= {minimum_similarity!r}"""
    )


def _payload_prelude(payload_expr_of_chunk: str) -> str:
    """CTE prefix for a DelimitedPayloadTokenFilter corpus derived from
    ``documents`` by appending '|payload' to every whitespace chunk
    (analysis/analyzer.py::analyze_delimited semantics: chunk index =
    position, lowercase + length/stop filters on the term part, doc
    length counts surviving tokens). ``payload_expr_of_chunk`` is a SQL
    scalar over the raw chunk ``z[1]`` producing the float payload."""
    from lucenenet_spark.analysis.analyzer import (
        ENGLISH_STOP_WORDS,
        MAX_TOKEN_LENGTH,
    )

    stops = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))
    return f"""
WITH tokp AS (
  SELECT doc_id AS docid, lower(z[1]) AS term,
         CAST(z[2] - 1 AS BIGINT) AS pos,
         CAST({payload_expr_of_chunk} AS REAL) AS payload
  FROM (
    SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents
  ), UNNEST(list_zip(toks, range(1, len(toks) + 1))) AS u(z)
  WHERE lower(z[1]) NOT IN ({stops})
    AND length(z[1]) <= {MAX_TOKEN_LENGTH} AND z[1] != ''
),
postings AS (
  SELECT docid, term, CAST(count(*) AS INT) AS freq
  FROM tokp GROUP BY docid, term
),
doclen AS (
  SELECT d.doc_id AS docid, CAST(coalesce(t.fl, 0) AS BIGINT) AS fl
  FROM documents d LEFT JOIN (
    SELECT docid, count(*) AS fl FROM tokp GROUP BY docid
  ) t ON d.doc_id = t.docid
),"""


def payload_term_query_sql(
    term: str, fn: str = "avg", k: int = K, boost: float = 1.0
) -> str:
    """PayloadTermQuery mirror (search/payloads.py): BM25 term score ×
    payload factor; avg = f32(pos-ordered f32 fold / f32(count)),
    min/max exact. The payload corpus appends
    '|{((length(chunk) + pos) % 4) + 0.5}' to every whitespace chunk —
    position-dependent so the factor varies per occurrence."""
    if fn == "avg":
        factor = (
            "(list_reduce(list(payload ORDER BY pos), (x, y) -> x + y)"
            " / CAST(cnt AS REAL))"
        )
    elif fn == "min":
        factor = "CAST(min(payload) AS REAL)"
    elif fn == "max":
        factor = "CAST(max(payload) AS REAL)"
    else:
        raise ValueError(fn)
    return (
        _payload_prelude("((length(z[1]) + (z[2] - 1)) % 4) + 0.5")
        + _prelude_tail()
        + f""",
{_term_weight_cte('tw', term, boost)},
pf AS (
  SELECT docid, {factor} AS factor
  FROM (SELECT docid, pos, payload, count(*) OVER (PARTITION BY docid) AS cnt
        FROM tokp WHERE term = '{term}')
  GROUP BY docid, cnt
),
scored AS (
  SELECT p.docid,
         ((SELECT w FROM tw) * CAST(p.freq AS REAL)
            / (CAST(p.freq AS REAL) + c.c)) * pf.factor AS s
  FROM postings p JOIN norms n ON p.docid = n.docid
  JOIN cache c ON c.nb = n.norm
  JOIN pf ON pf.docid = p.docid
  WHERE p.term = '{term}'
)"""
        + _topk("scored", k)
    )


def payload_near_query_sql(t0: str, t1: str, slop: int, k: int = K) -> str:
    """PayloadNearQuery mirror (search/payloads.py::payload_near_query):
    greedy ordered 2-term spans over the payload corpus, spanScore =
    BM25(w_multi, Σ f32 1/(1+matchLength)), factor = avg over the
    matched positions' payloads in (span, clause) order."""
    ta, tb = sorted([t0, t1])
    idfa = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{ta}')")
    idfb = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{tb}')")
    k1p1 = f"({_f32_lit(1.2)} + {_f32_lit(1.0)})"
    return (
        _payload_prelude("((length(z[1]) + (z[2] - 1)) % 4) + 0.5")
        + _prelude_tail()
        + f""",
w AS (SELECT (({_f32_lit(0.0)} + {idfa}) + {idfb}) * {_f32_lit(1.0)} * {k1p1} AS w),
sp AS (
  SELECT a.docid, a.pos AS p0, a.payload AS pay0,
         (SELECT min(b.pos) FROM tokp b
          WHERE b.docid = a.docid AND b.term = '{t1}' AND b.pos > a.pos) AS p1
  FROM tokp a WHERE a.term = '{t0}'
),
good AS (
  SELECT s.docid, s.p0, s.p1, s.pay0, b.payload AS pay1
  FROM sp s JOIN tokp b
    ON b.docid = s.docid AND b.term = '{t1}' AND b.pos = s.p1
  WHERE s.p1 IS NOT NULL AND s.p1 - s.p0 - 1 <= {slop}
),
freqs AS (
  SELECT docid,
         list_reduce(
           list(CAST(1.0 AS REAL) / CAST(1 + (p1 + 1 - p0) AS REAL) ORDER BY p0),
           (x, y) -> x + y
         ) AS f
  FROM good GROUP BY docid
),
pays AS (
  SELECT docid, o, leg, pay FROM (
    SELECT docid, p0 AS o, 0 AS leg, pay0 AS pay FROM good
    UNION ALL
    SELECT docid, p0 AS o, 1 AS leg, pay1 AS pay FROM good
  )
),
pf AS (
  SELECT docid,
         (list_reduce(list(pay ORDER BY o, leg), (x, y) -> x + y)
          / CAST(count(*) AS REAL)) AS factor
  FROM pays GROUP BY docid
),
scored AS (
  SELECT fr.docid,
         ((SELECT w FROM w) * fr.f / (fr.f + c.c)) * pf.factor AS s
  FROM freqs fr JOIN norms n ON fr.docid = n.docid
  JOIN cache c ON c.nb = n.norm
  JOIN pf ON pf.docid = fr.docid
)"""
        + _topk("scored", k)
    )


def span_payload_check_sql(term: str, payload: float) -> str:
    """SpanPayloadCheckQuery mirror: unit-term spans with the required
    payload, over the position-dependent payload corpus."""
    return (
        _payload_prelude("((length(z[1]) + (z[2] - 1)) % 4) + 0.5")
        + _prelude_tail()
        + f"""
SELECT docid, CAST(count(*) AS BIGINT) AS n_spans
FROM tokp WHERE term = '{term}' AND payload = {_f32_lit(payload)}
GROUP BY docid"""
    )


def span_near_payload_check_sql(
    t0: str, t1: str, slop: int, p0: float, p1: float
) -> str:
    """SpanNearPayloadCheckQuery mirror: greedy ordered chain with the
    required (first, second) payload pair."""
    return (
        _payload_prelude("((length(z[1]) + (z[2] - 1)) % 4) + 0.5")
        + _prelude_tail()
        + f""",
sp AS (
  SELECT a.docid, a.pos AS p0, a.payload AS pay0,
         (SELECT min(b.pos) FROM tokp b
          WHERE b.docid = a.docid AND b.term = '{t1}' AND b.pos > a.pos) AS p1
  FROM tokp a WHERE a.term = '{t0}'
),
good AS (
  SELECT s.docid
  FROM sp s JOIN tokp b
    ON b.docid = s.docid AND b.term = '{t1}' AND b.pos = s.p1
  WHERE s.p1 IS NOT NULL AND s.p1 - s.p0 - 1 <= {slop}
    AND s.pay0 = {_f32_lit(p0)} AND b.payload = {_f32_lit(p1)}
)
SELECT docid, CAST(count(*) AS BIGINT) AS n_spans FROM good GROUP BY docid"""
    )


def sorted_early_topk_sql(k: int) -> str:
    """Early-terminating sorted top-k mirror: docids of the
    (n_chars DESC, doc_id)-sorted build are row_number()-1 over that
    order, so the top-k is simply the first k rows."""
    return f"""
WITH ordered AS (
  SELECT CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS BIGINT) AS docid,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents
)
SELECT CAST(row_number() OVER (ORDER BY docid) AS BIGINT) AS rank, docid, n_chars
FROM ordered ORDER BY docid LIMIT {k}"""


def split_index_stats_sql() -> str:
    """split_index(n_parts=2) mirror: the boundary is round(max_doc/2)
    (banker-rounding-free: max_doc/2 is exact for even corpora and the
    splitter uses Python round on the same value); per part report
    max_doc, sttf and 'spark' df/ttf (splitter.py computes stats from
    block metadata; this recomputes them from first principles)."""
    return (
        bm25_prelude()
        + f""",
bound AS (
  SELECT CAST(round(max_doc / 2.0) AS BIGINT) AS b FROM cstats
),
part_of AS (
  SELECT docid, CASE WHEN docid < (SELECT b FROM bound) THEN 0 ELSE 1 END AS part
  FROM doclen
),
doc_stats AS (
  SELECT p.part, CAST(count(*) AS BIGINT) AS max_doc,
         CAST(coalesce(sum(d.fl), 0) AS BIGINT) AS sttf
  FROM part_of p JOIN doclen d ON p.docid = d.docid
  GROUP BY p.part
),
spark_stats AS (
  SELECT pr.part, CAST(count(*) AS BIGINT) AS df_spark,
         CAST(coalesce(sum(po.freq), 0) AS BIGINT) AS ttf_spark
  FROM postings po JOIN part_of pr ON po.docid = pr.docid
  WHERE po.term = 'spark'
  GROUP BY pr.part
)
SELECT d.part, d.max_doc, d.sttf,
       coalesce(s.df_spark, 0) AS df_spark,
       coalesce(s.ttf_spark, 0) AS ttf_spark
FROM doc_stats d LEFT JOIN spark_stats s ON d.part = s.part
ORDER BY d.part"""
    )


def block_join_top_children_sql(
    term: str,
    block: int = 10,
    score_mode: str = "avg",
    k: int = K,
    children_per_parent: int = 3,
) -> str:
    """to_parent_join_with_children mirror (ToParentBlockJoinCollector
    .GetTopGroups): top-k decade-block parents, each with its top-N
    children by the child's own BM25 score."""
    if score_mode == "max":
        s = "CAST(max(child_score) AS REAL)"
    else:
        s = "list_reduce(list(child_score ORDER BY child), (x, y) -> x + y)"
        if score_mode == "avg":
            s = f"CAST({s} / CAST(count(*) AS REAL) AS REAL)"
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
kids AS (
  SELECT s.docid AS child, s.s AS child_score,
         s.docid - s.docid % {block} AS parent
  FROM t0 s WHERE s.docid - s.docid % {block} != s.docid
),
pv AS (SELECT parent, {s} AS parent_score FROM kids GROUP BY parent),
ranked_parents AS (
  SELECT parent, parent_score,
         CAST(row_number() OVER (ORDER BY parent_score DESC, parent ASC) AS BIGINT)
           AS parent_rank
  FROM pv WHERE parent IN (SELECT CAST(doc_id AS BIGINT) FROM documents)
  ORDER BY parent_score DESC, parent ASC LIMIT {k}
),
ranked_children AS (
  SELECT p.parent_rank, p.parent, p.parent_score, c.child, c.child_score,
         CAST(row_number() OVER (PARTITION BY c.parent
              ORDER BY c.child_score DESC, c.child ASC) AS BIGINT) AS child_rank
  FROM kids c JOIN ranked_parents p ON c.parent = p.parent
)
SELECT parent_rank, parent, CAST(parent_score AS DOUBLE) AS parent_score,
       child_rank, child, CAST(child_score AS DOUBLE) AS child_score
FROM ranked_children WHERE child_rank <= {children_per_parent}
ORDER BY parent_rank, child_rank"""
    )


def _common_grams_prelude() -> str:
    """CTE prefix for a CorpusSpec(common_grams=True) index over
    ``documents``: non-stop unigrams at raw positions + stopword-
    adjacent bigrams at the left token's position (overlaps excluded
    from doc length) — analysis/commongrams.py spec."""
    from lucenenet_spark.analysis.analyzer import (
        ENGLISH_STOP_WORDS,
        MAX_TOKEN_LENGTH,
    )

    re_sql = TOKEN_PATTERN.replace("'", "''")
    stops = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))
    return f"""
WITH raw AS (
  SELECT doc_id AS docid, z[1] AS term, CAST(z[2] - 1 AS BIGINT) AS pos
  FROM (
    SELECT doc_id,
           list_filter(regexp_extract_all(lower(text), '{re_sql}'),
                       x -> length(x) <= {MAX_TOKEN_LENGTH}) AS toks
    FROM documents
  ), UNNEST(list_zip(toks, range(1, len(toks) + 1))) AS u(z)
),
tok AS (
  SELECT docid, term, pos FROM raw WHERE term NOT IN ({stops})
  UNION ALL
  SELECT a.docid, a.term || '_' || b.term AS term, a.pos
  FROM raw a JOIN raw b ON b.docid = a.docid AND b.pos = a.pos + 1
  WHERE a.term IN ({stops}) OR b.term IN ({stops})
),
postings AS (
  SELECT docid, term, CAST(count(*) AS INT) AS freq
  FROM tok GROUP BY docid, term
),
doclen AS (
  SELECT d.doc_id AS docid, CAST(coalesce(t.fl, 0) AS BIGINT) AS fl
  FROM documents d LEFT JOIN (
    SELECT docid, count(*) AS fl FROM raw
    WHERE term NOT IN ({stops}) GROUP BY docid
  ) t ON d.doc_id = t.docid
),"""


def common_grams_term_sql(term: str, k: int = K) -> str:
    """TermQuery over the common-grams index — a stopword phrase as one
    rare-term lookup."""
    return (
        _common_grams_prelude()
        + _prelude_tail()
        + ",\n"
        + _term_scores_cte("t0", term)
        + _topk("t0", k)
    )


def common_grams_phrase_sql(t0: str, t1: str, k: int = K) -> str:
    """PhraseQuery over adjacent common-gram slots (the
    CommonGramsQueryFilter rewrite of a 3-word stopword phrase)."""
    idf0 = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{t0}')")
    idf1 = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{t1}')")
    k1p1 = f"({_f32_lit(1.2)} + {_f32_lit(1.0)})"
    return (
        _common_grams_prelude()
        + _prelude_tail()
        + f""",
w AS (SELECT (({_f32_lit(0.0)} + {idf0}) + {idf1}) * {_f32_lit(1.0)} * {k1p1} AS w),
pfreq AS (
  SELECT a.docid, CAST(count(*) AS INT) AS freq
  FROM tok a JOIN tok b ON b.docid = a.docid AND b.pos = a.pos + 1
  WHERE a.term = '{t0}' AND b.term = '{t1}'
  GROUP BY a.docid
),
scored AS (
  SELECT p.docid,
         (SELECT w FROM w) * CAST(p.freq AS REAL)
           / (CAST(p.freq AS REAL) + c.c) AS s
  FROM pfreq p JOIN norms n ON p.docid = n.docid
  JOIN cache c ON c.nb = n.norm
)"""
        + _topk("scored", k)
    )


def direct_spell_sql(
    words: tuple[str, ...],
    num_sug: int = 5,
    max_edits: int = 2,
    min_prefix: int = 1,
    min_query_length: int = 4,
    max_query_frequency: float = 0.01,
    accuracy: float = 0.5,
    max_inspections: int = 5,
    transpositions: bool = False,
) -> str:
    """DirectSpellChecker.SuggestSimilar mirror (search/spell.py::
    direct_spell_suggest) — when_not_in_index mode,
    INTERNAL_LEVENSHTEIN score formula. transpositions=False is the
    selectable plain-Levenshtein dialect; True mirrors the reference-
    default internal OSA distance with DuckDB's damerau_levenshtein
    (full DL == OSA on every in-band pair of this corpus — asserted by
    tests/test_osa.py's corpus sweep)."""
    fn = "damerau_levenshtein" if transpositions else "levenshtein"
    vals = ",".join(f"('{w.lower()}')" for w in words)
    inspections = num_sug * max_inspections
    return (
        bm25_prelude()
        + f""",
words(word) AS (VALUES {vals}),
qgate AS (
  SELECT w.word FROM words w
  LEFT JOIN term_stats t ON t.term = w.word
  CROSS JOIN cstats
  WHERE length(w.word) >= {min_query_length}
    AND coalesce(t.df, 0) = 0
    AND coalesce(t.df, 0) <= CAST(ceil({max_query_frequency} * max_doc) AS BIGINT)
),
cand AS (
  SELECT q.word, t.term AS suggestion,
         {fn}(t.term, q.word) AS dist, CAST(t.df AS BIGINT) AS df
  FROM qgate q, term_stats t
  WHERE t.term != q.word
    AND abs(length(t.term) - length(q.word)) <= {max_edits}
    AND substring(t.term, 1, {min_prefix}) = substring(q.word, 1, {min_prefix})
    AND {fn}(t.term, q.word) <= {max_edits}
),
scored AS (
  SELECT word, suggestion, dist, df,
         CAST(CAST(1.0 AS REAL) - CAST(CAST(dist AS REAL)
              / CAST(least(length(word), length(suggestion)) AS REAL) AS REAL)
              AS REAL) AS s
  FROM cand
),
gated AS (SELECT * FROM scored WHERE s >= {_f32_lit(accuracy)}),
counted AS (
  SELECT *, sum(CASE WHEN dist <= 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY word) AS n_ed1
  FROM gated
),
ranked AS (
  SELECT word, suggestion, s, df,
         CAST(row_number() OVER (PARTITION BY word
              ORDER BY s DESC, df DESC, suggestion ASC) AS BIGINT) AS rank
  FROM counted WHERE n_ed1 < {inspections} OR dist <= 1
)
SELECT word, rank, suggestion, CAST(s AS DOUBLE) AS score, df
FROM ranked WHERE rank <= {num_sug}"""
    )


def chained_filter_xor_sql(lang: str, term: str, source: str) -> str:
    """ChainedFilter mirror (collectors.py::chained_filter) for the
    chain [lang==X AND, term XOR, source ANDNOT]: acc = lang-set,
    acc = acc XOR term-docid-set, acc = acc ANDNOT source-set."""
    return (
        bm25_prelude()
        + f""",
f0 AS (SELECT doc_id AS docid FROM documents WHERE lang = '{lang}'),
f1 AS (SELECT DISTINCT docid FROM postings WHERE term = '{term}'),
f2 AS (SELECT doc_id AS docid FROM documents WHERE source = '{source}'),
acc1 AS (
  (SELECT docid FROM f0 UNION SELECT docid FROM f1)
  EXCEPT
  (SELECT docid FROM f0 INTERSECT SELECT docid FROM f1)
)
SELECT CAST(docid AS BIGINT) AS docid FROM acc1
EXCEPT
SELECT CAST(docid AS BIGINT) AS docid FROM f2"""
    )


def custom_score_sql(term: str, k: int = K) -> str:
    """CustomScoreQuery mirror (collectors.py::custom_score_topk) for
    value sources [sqrt(field_length), 1 + (docid % 7)/8]: score =
    f32(f32(s * v0) * v1) — sqrt and /8 are IEEE-exact in both
    engines, so every bit matches."""
    return (
        bm25_prelude()
        + ",\n"
        + _term_scores_cte("t0", term)
        + f""",
vals AS (
  SELECT t0.docid, t0.s,
         CAST(sqrt(n.fl) AS REAL) AS v0,
         CAST(1.0 + (t0.docid % 7) / 8.0 AS REAL) AS v1
  FROM t0 JOIN norms n ON n.docid = t0.docid
),
folded AS (
  SELECT docid, CAST(CAST(s * v0 AS REAL) * v1 AS REAL) AS s FROM vals
)
"""
        + _topk("folded", k)
    )


def scale_function_sql(
    term: str, min_target: float = 0.0, max_target: float = 1.0, k: int = K
) -> str:
    """scale() value source mirror (collectors.py::scale_function_topk)
    over norms.fl: f32 min/max normalization folded into the BM25
    subquery score."""
    mnt, mxt = _f32_lit(min_target), _f32_lit(max_target)
    return (
        bm25_prelude()
        + ",\n"
        + _term_scores_cte("t0", term)
        + f""",
mnmx AS (SELECT CAST(min(fl) AS REAL) AS mn, CAST(max(fl) AS REAL) AS mx FROM norms),
vals AS (
  SELECT t0.docid,
         CAST(t0.s * CAST(CAST(CAST(CAST(n.fl AS REAL) - m.mn AS REAL)
              * (CASE WHEN m.mx = m.mn THEN CAST(0.0 AS REAL)
                 ELSE CAST(CAST({mxt} - {mnt} AS REAL) / CAST(m.mx - m.mn AS REAL) AS REAL) END)
              AS REAL) + {mnt} AS REAL) AS REAL) AS s
  FROM t0 JOIN norms n ON n.docid = t0.docid CROSS JOIN mnmx m
)
"""
        + _topk("vals", k)
    )


def grouped_topk_expr_sql(
    term: str, expr_sql: str, k_groups: int = 10, k_per_group: int = 3
) -> str:
    """GroupingSearch.ByFunction mirror: grouped_topk with the group
    key computed by ``expr_sql`` over norms (alias n) — the
    ValueSource-grouping variant."""
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("t0", term)
        + f""",
wg AS (
  SELECT s.docid, s.s, {expr_sql} AS grp
  FROM t0 s JOIN norms n ON n.docid = s.docid
),
ranked AS (
  SELECT docid, s, grp,
         row_number() OVER (PARTITION BY grp ORDER BY s DESC, docid ASC) AS doc_rank
  FROM wg
),
best AS (SELECT grp, s AS best, docid AS bd FROM ranked WHERE doc_rank = 1),
topg AS (
  SELECT grp, rk AS group_rank FROM (
    SELECT grp, row_number() OVER (ORDER BY best DESC, bd ASC) AS rk FROM best
  ) WHERE rk <= {k_groups}
)
SELECT CAST(r.grp AS BIGINT) AS grp, CAST(t.group_rank AS BIGINT) AS group_rank,
       CAST(r.doc_rank AS BIGINT) AS doc_rank, r.docid,
       CAST(r.s AS DOUBLE) AS score
FROM ranked r JOIN topg t ON r.grp = t.grp
WHERE r.doc_rank <= {k_per_group}"""
    )


def hybrid_rrf_sql(
    term: str,
    query_vec: list[float],
    n_each: int = 50,
    k: int = 10,
    k0: int = 60,
) -> str:
    """Reciprocal-rank fusion mirror (ops/hybrid.py::hybrid_rrf):
    BM25 top-n for ``term`` fused with cosine top-n for ``query_vec``,
    contributions summed lexical-first in IEEE doubles."""
    import numpy as np

    dot = "CAST(0.0 AS DOUBLE)"
    nrm = "CAST(0.0 AS DOUBLE)"
    for i, qv in enumerate(query_vec):
        e = f"CAST(embedding[{i + 1}] AS DOUBLE)"
        dot = f"({dot} + {e} * CAST({float(qv)!r} AS DOUBLE))"
        nrm = f"({nrm} + {e} * {e})"
    qnorm = float(np.sqrt(np.sum(np.asarray(query_vec, dtype=np.float64) ** 2)))
    return (
        bm25_prelude()
        + ",\n"
        + _term_scores_cte("t0", term)
        + f""",
bmr AS (
  SELECT id, rk AS r_bm25 FROM (
    SELECT docid AS id, row_number() OVER (ORDER BY s DESC, docid ASC) AS rk FROM t0
  ) WHERE rk <= {n_each}
),
annscored AS (
  SELECT CAST(vec_id AS BIGINT) AS id,
         {dot} / (sqrt({nrm}) * CAST({qnorm!r} AS DOUBLE)) AS sim
  FROM embeddings
),
annr AS (
  SELECT id, rk AS r_ann FROM (
    SELECT id, row_number() OVER (ORDER BY sim DESC, id ASC) AS rk FROM annscored
  ) WHERE rk <= {n_each}
),
fused AS (
  SELECT coalesce(b.id, a.id) AS id,
         (CASE WHEN b.r_bm25 IS NULL THEN 0.0
               ELSE 1.0 / ({float(k0)!r} + CAST(b.r_bm25 AS DOUBLE)) END)
         + (CASE WHEN a.r_ann IS NULL THEN 0.0
                 ELSE 1.0 / ({float(k0)!r} + CAST(a.r_ann AS DOUBLE)) END) AS rrf,
         CAST(coalesce(b.r_bm25, 0) AS BIGINT) AS r_bm25,
         CAST(coalesce(a.r_ann, 0) AS BIGINT) AS r_ann
  FROM bmr b FULL OUTER JOIN annr a ON a.id = b.id
)
SELECT CAST(row_number() OVER (ORDER BY rrf DESC, id ASC) AS BIGINT) AS rank,
       id, rrf, r_bm25, r_ann
FROM fused ORDER BY rrf DESC, id ASC LIMIT {k}"""
    )


def pk_split_search_sql(term: str, predicate_sql: str, k: int = K) -> str:
    """PKIndexSplitter mirror (index/splitter.py::pk_split): the same
    term query on both parts; fake-delete semantics mean scores equal
    the unsplit index's, so the oracle is the full scored set split by
    the predicate and re-ranked per part."""
    return (
        bm25_prelude()
        + ",\n"
        + _term_scores_cte("t0", term)
        + f""",
tagged AS (
  SELECT t0.docid, t0.s,
         (CASE WHEN {predicate_sql} THEN 'pass' ELSE 'fail' END) AS part
  FROM t0 JOIN documents d ON CAST(d.doc_id AS BIGINT) = t0.docid
),
ranked AS (
  SELECT part, docid, s,
         row_number() OVER (PARTITION BY part ORDER BY s DESC, docid ASC) AS rk
  FROM tagged
)
SELECT part, CAST(rk AS BIGINT) AS rank, docid, CAST(s AS DOUBLE) AS score
FROM ranked WHERE rk <= {k}"""
    )


def phrase_snippets_sql(t0: str, t1: str, k: int = K) -> str:
    """Phrase-accurate highlight mirror (collectors.py::
    phrase_snippets): top-k docs of the exact 2-term phrase, then char
    spans of every phrase occurrence reconstructed from cumulative
    separator/token lengths (the highlight_snippets offsets CTE)."""
    from lucenenet_spark.analysis.analyzer import (
        MAX_TOKEN_LENGTH,
        TOKEN_PATTERN,
        _sql_quote_regex,
    )

    pat = _sql_quote_regex(TOKEN_PATTERN)
    idf0 = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{t0}')")
    idf1 = _idf_expr(f"(SELECT df FROM term_stats WHERE term = '{t1}')")
    k1p1 = f"({_f32_lit(1.2)} + {_f32_lit(1.0)})"
    return (
        bm25_prelude(with_positions=True)
        + f""",
w AS (SELECT (({_f32_lit(0.0)} + {idf0}) + {idf1}) * {_f32_lit(1.0)} * {k1p1} AS w),
pfreq AS (
  SELECT a.docid, CAST(count(*) AS INT) AS freq
  FROM tok a JOIN tok b ON b.docid = a.docid AND b.pos = a.pos + 1
  WHERE a.term = '{t0}' AND b.term = '{t1}'
  GROUP BY a.docid
),
scored AS (
  SELECT p.docid,
         (SELECT w FROM w) * CAST(p.freq AS REAL)
           / (CAST(p.freq AS REAL) + c.c) AS s
  FROM pfreq p JOIN norms n ON p.docid = n.docid
  JOIN cache c ON c.nb = n.norm
),
top AS (SELECT docid FROM scored ORDER BY s DESC, docid ASC LIMIT {k}),
raw AS (
  SELECT d.doc_id AS docid, lower(d.text) AS lt,
         regexp_extract_all(lower(d.text), '{pat}') AS rtoks,
         regexp_split_to_array(lower(d.text), '{pat}') AS seps
  FROM documents d JOIN top ON top.docid = d.doc_id
),
rt AS (
  SELECT docid, lt, z[1] AS tok, CAST(z[2] AS INT) AS i,
         CAST(coalesce(list_sum(list_transform(seps[1:CAST(z[2] AS INT)],
                                               x -> length(x))), 0)
              + coalesce(list_sum(list_transform(rtoks[1:CAST(z[2] AS INT) - 1],
                                                 x -> length(x))), 0)
              AS BIGINT) AS s
  FROM raw, UNNEST(list_zip(rtoks, range(1, len(rtoks) + 1))) AS u(z)
),
ft AS (
  SELECT docid, lt, tok, s, s + length(tok) AS e,
         row_number() OVER (PARTITION BY docid ORDER BY i) - 1 AS pos
  FROM rt WHERE length(tok) <= {MAX_TOKEN_LENGTH}
)
SELECT a.docid, CAST(a.pos AS BIGINT) AS pos,
       CAST(a.s AS BIGINT) AS start_char, CAST(b.e AS BIGINT) AS end_char,
       substring(a.lt, CAST(a.s AS INT) + 1, CAST(b.e - a.s AS INT)) AS matched
FROM ft a JOIN ft b ON b.docid = a.docid AND b.pos = a.pos + 1
WHERE a.tok = '{t0}' AND b.tok = '{t1}'"""
    )


def time_limited_topk_sql(term: str, doc_budget: int, k: int = K) -> str:
    """TimeLimitingCollector-analog mirror (collectors.py::
    time_limited_topk): the term query scored over the docid <
    doc_budget prefix only, partial = budget < max_doc."""
    return (
        bm25_prelude()
        + ",\n"
        + _term_scores_cte("t0", term)
        + f""",
lim AS (SELECT docid, s FROM t0 WHERE docid < {doc_budget}),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY s DESC, docid ASC) AS BIGINT) AS rank,
         docid, CAST(s AS DOUBLE) AS score
  FROM lim ORDER BY s DESC, docid ASC LIMIT {k}
)
SELECT rank, docid, score,
       ({doc_budget} < (SELECT max_doc FROM cstats)) AS partial
FROM ranked"""
    )


def postings_highlight_sql(
    t0: str,
    t1: str,
    k: int = K,
    max_passages: int = 2,
    k1: float = 1.2,
    b: float = 0.75,
    pivot: float = 87.0,
) -> str:
    """Mirror of collectors.postings_highlight (PassageScorer formulas)
    for OR(t0, t1): sentence chunks + char starts reproduced with the
    same regex, weight/tf/norm float32-truncated at the same nodes,
    weighted sum folded in sorted-term order."""
    from lucenenet_spark.analysis.analyzer import TOKEN_PATTERN, _sql_quote_regex

    tok_re = _sql_quote_regex(TOKEN_PATTERN)
    sent_re = "[^.!?]*[.!?]+|[^.!?]+"
    ts = sorted({t0.lower(), t1.lower()})
    kp1 = repr(float(k1) + 1.0)
    one_minus_b = repr(1.0 - float(b))
    bl, pv = repr(float(b)), repr(float(pivot))

    def tf_expr(i, t):
        n = (
            f"CAST(len(list_filter(regexp_extract_all(lower(passage), '{tok_re}'),"
            f" x -> x = '{t}')) AS DOUBLE)"
        )
        return (
            f"CAST(CAST({n} / ({n} + {repr(float(k1))} * ({one_minus_b}"
            f" + ({bl} * CAST(length(passage) AS DOUBLE)) / {pv})) AS REAL)"
            f" AS DOUBLE) AS tf{i},\n         {n} AS n{i}"
        )

    tf_cols = ",\n         ".join(tf_expr(i, t) for i, t in enumerate(ts))
    w_cases = ",\n         ".join(
        f"max(CASE WHEN term = '{t}' THEN w END) AS w{i}" for i, t in enumerate(ts)
    )
    total = " + ".join(f"coalesce(wp.w{i}, 0.0) * s.tf{i}" for i in range(len(ts)))
    any_hit = " OR ".join(f"s.n{i} > 0" for i in range(len(ts)))
    return (
        bm25_prelude()
        + ",\n" + _term_scores_cte("c0", t0)
        + ",\n" + _term_scores_cte("c1", t1)
        + f""",
merged AS (
  SELECT coalesce(c0.docid, c1.docid) AS docid,
         ({_f32_lit(0.0)} + coalesce(c0.s, {_f32_lit(0.0)}))
           + coalesce(c1.s, {_f32_lit(0.0)}) AS s
  FROM c0 FULL OUTER JOIN c1 ON c0.docid = c1.docid
),
top AS (SELECT docid FROM merged ORDER BY s DESC, docid ASC LIMIT {k}),
texts AS (
  SELECT CAST(d.doc_id AS BIGINT) AS docid, d.text
  FROM documents d JOIN top ON top.docid = d.doc_id
),
wt AS (
  SELECT p.docid, p.term,
         CAST(CAST({kp1} * ln(1.0 + ((1.0 + CAST(length(t.text) AS DOUBLE) / {pv})
                + 0.5) / (CAST(p.freq AS DOUBLE) + 0.5)) AS REAL) AS DOUBLE) AS w
  FROM postings p JOIN texts t ON t.docid = p.docid
  WHERE p.term IN ({', '.join(f"'{t}'" for t in ts)})
),
wp AS (
  SELECT docid,
         {w_cases}
  FROM wt GROUP BY docid
),
sent0 AS (
  SELECT docid, arr, unnest(range(1, len(arr) + 1)) AS snum
  FROM (SELECT docid, regexp_extract_all(text, '{sent_re}') AS arr FROM texts)
),
sent AS (
  SELECT docid, snum, arr[snum] AS passage,
         CAST(coalesce(sum(length(arr[snum])) OVER (
           PARTITION BY docid ORDER BY snum
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS pstart
  FROM sent0
),
scored AS (
  SELECT s.docid, s.pstart, s.passage,
         CAST(CAST(
           CAST(CAST(1.0 + 1.0 / ln({pv} + CAST(s.pstart AS DOUBLE)) AS REAL) AS DOUBLE)
           * ({total}) AS REAL) AS DOUBLE) AS score
  FROM (
    SELECT docid, snum, passage, pstart,
         {tf_cols}
    FROM sent
  ) s JOIN wp ON wp.docid = s.docid
  WHERE {any_hit}
),
ranked AS (
  SELECT docid, pstart, passage, score,
         CAST(row_number() OVER (
           PARTITION BY docid ORDER BY score DESC, pstart ASC
         ) AS BIGINT) AS passage_rank
  FROM scored
)
SELECT docid, passage_rank, pstart, score, passage
FROM ranked WHERE passage_rank <= {max_passages}
ORDER BY docid, passage_rank"""
    )


def term_freq_topk_sql(term: str, k: int = K) -> str:
    """Mirror of collectors.term_freq_topk (TermFreqValueSource)."""
    return bm25_prelude() + f"""
SELECT CAST(row_number() OVER (ORDER BY tf DESC, docid ASC) AS BIGINT) AS rank,
       docid, tf
FROM (SELECT docid, CAST(freq AS BIGINT) AS tf FROM postings WHERE term = '{term}')
ORDER BY tf DESC, docid ASC LIMIT {k}"""


def norm_value_topk_sql(term: str, k: int = K) -> str:
    """Mirror of collectors.norm_value_topk (NormValueSource): decode
    the stored norm byte through the byte315 VALUES table."""
    return bm25_prelude() + f"""
SELECT CAST(row_number() OVER (ORDER BY nv DESC, docid ASC) AS BIGINT) AS rank,
       docid, nv AS norm_value
FROM (
  SELECT p.docid, nd.val AS nv
  FROM postings p
       JOIN norms n ON n.docid = p.docid
       JOIN norm_decode nd ON nd.b = n.norm
  WHERE p.term = '{term}'
)
ORDER BY nv DESC, docid ASC LIMIT {k}"""


def check_index_sql() -> str:
    """Mirror of index/checkindex.py::check_index over a clean build:
    doc_count / postings_rows / sum_tf recomputed from raw text; every
    structural invariant must observe 0."""
    return bm25_prelude() + """
SELECT * FROM (
  SELECT 'doc_count' AS "check",
         (SELECT CAST(count(*) AS BIGINT) FROM documents) AS observed, true AS ok
  UNION ALL SELECT 'doclen_mismatch', CAST(0 AS BIGINT), true
  UNION ALL SELECT 'duplicate_docids', CAST(0 AS BIGINT), true
  UNION ALL SELECT 'freq_positions_mismatch', CAST(0 AS BIGINT), true
  UNION ALL SELECT 'norm_mismatch', CAST(0 AS BIGINT), true
  UNION ALL SELECT 'orphan_postings', CAST(0 AS BIGINT), true
  UNION ALL SELECT 'postings_rows',
         (SELECT CAST(count(*) AS BIGINT) FROM postings), true
  UNION ALL SELECT 'sum_tf',
         (SELECT CAST(sum(freq) AS BIGINT) FROM postings), true
) ORDER BY "check" """


def grouped_facet_counts_sql(term: str, group_col: str, facet_col: str) -> str:
    """Mirror of collectors.grouped_facet_counts: distinct groups per
    facet value over a TermQuery's matches."""
    return (
        bm25_prelude()
        + f"""
SELECT d.{facet_col} AS value,
       CAST(count(DISTINCT d.{group_col}) AS BIGINT) AS n_groups
FROM documents d
WHERE CAST(d.doc_id AS BIGINT) IN (SELECT docid FROM postings WHERE term = '{term}')
  AND d.{facet_col} IS NOT NULL AND d.{group_col} IS NOT NULL
GROUP BY d.{facet_col}
ORDER BY n_groups DESC, value ASC"""
    )


def confusion_matrix_sql(max_id: int = 50, class_col: str = "source") -> str:
    """Mirror of classification.confusion_matrix over the nb_classify
    predictions: actual-vs-predicted counts."""
    return f"""
SELECT t.{class_col} AS actual, p.label AS predicted,
       CAST(count(*) AS BIGINT) AS n
FROM ({nb_classify_sql(max_id, class_col)}) p
JOIN documents t ON CAST(t.doc_id AS BIGINT) = p.doc_id
GROUP BY t.{class_col}, p.label
ORDER BY actual, predicted"""
