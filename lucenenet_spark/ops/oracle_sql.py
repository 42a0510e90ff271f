"""DuckDB oracle SQL for the training-data ops — exact mirrors of the
Spark pipelines in ops/ (same md5-prefix hashing, same int64 modular
minhash, same fixed-shape double expressions), self-contained over the
driver-registered ``documents`` / ``embeddings`` views.
"""

from __future__ import annotations

from lucenenet_spark.analysis.analyzer import ENGLISH_STOP_WORDS, TOKEN_PATTERN
from lucenenet_spark.ops.dedup import (
    DEFAULT_BANDS,
    DEFAULT_N_HASHES,
    SHINGLE_K,
    SIMHASH_BANDS,
    SIMHASH_BITS,
)
from lucenenet_spark.ops.hashing import MERSENNE_31, minhash_coeffs
from lucenenet_spark.ops.text import FP_GRAM, LANG_MARKERS

_RE = TOKEN_PATTERN.replace("'", "''")
_T = "coalesce(text, '')"

_TOKS = f"""
toks AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         regexp_extract_all(lower({_T}), '{_RE}') AS toks
  FROM documents
)"""

_SHINGLES = f"""
sh AS (
  SELECT DISTINCT id, array_to_string(toks[i:i+{SHINGLE_K - 1}], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(toks) - {SHINGLE_K - 2})) AS u(i)
  WHERE len(toks) >= {SHINGLE_K}
)"""


def _md5int(expr: str) -> str:
    return f"CAST('0x' || substring(md5({expr}), 1, 15) AS BIGINT)"


def dedup_exact_sql() -> str:
    return f"""
WITH h AS (
  SELECT CAST(doc_id AS BIGINT) AS id, sha256({_T}) AS content_hash FROM documents
),
g AS (
  SELECT content_hash, CAST(count(*) AS BIGINT) AS group_size,
         min(id) AS canonical_id
  FROM h GROUP BY content_hash
)
SELECT h.id, h.content_hash, g.group_size, g.canonical_id
FROM h JOIN g USING (content_hash)"""


def _minhash_prelude(n_hashes: int = DEFAULT_N_HASHES, seed: int = 42) -> str:
    coeffs = minhash_coeffs(n_hashes, seed)
    vals = ",".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(coeffs))
    return f"""
WITH {_TOKS},
{_SHINGLES},
base AS (
  SELECT id, {_md5int('shingle')} % {MERSENNE_31} AS h FROM sh
),
coeffs(i, a, b) AS (VALUES {vals}),
mh AS (
  SELECT id, c.i, min((c.a * base.h + c.b) % {MERSENNE_31}) AS mh
  FROM base CROSS JOIN coeffs c GROUP BY id, c.i
)"""


def minhash_sigs_sql() -> str:
    return _minhash_prelude() + "\nSELECT id, CAST(i AS BIGINT) AS i, mh FROM mh"


def minhash_dedup_sql(
    n_hashes: int = DEFAULT_N_HASHES, bands: int = DEFAULT_BANDS, max_bucket: int = 1000
) -> str:
    r = n_hashes // bands
    return (
        _minhash_prelude(n_hashes)
        + f""",
bands AS (
  SELECT id, i // {r} AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
  FROM mh GROUP BY id, i // {r}
),
ok_buckets AS (
  SELECT band, key FROM bands GROUP BY band, key
  HAVING count(*) BETWEEN 2 AND {max_bucket}
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a
  JOIN ok_buckets o ON a.band = o.band AND a.key = o.key
  JOIN bands b ON b.band = o.band AND b.key = o.key AND a.id < b.id
),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS inter
  FROM pairs p
  JOIN sh s1 ON s1.id = p.id_a
  JOIN sh s2 ON s2.id = p.id_b AND s2.shingle = s1.shingle
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b, coalesce(i.inter, 0) AS inter,
       coalesce(sa.sz, 0) AS size_a, coalesce(sb.sz, 0) AS size_b,
       CASE WHEN coalesce(sa.sz, 0) + coalesce(sb.sz, 0) - coalesce(i.inter, 0) = 0
            THEN 0.0
            ELSE CAST(coalesce(i.inter, 0) AS DOUBLE)
              / CAST(coalesce(sa.sz, 0) + coalesce(sb.sz, 0) - coalesce(i.inter, 0) AS DOUBLE)
       END AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
LEFT JOIN sizes sa ON sa.id = p.id_a
LEFT JOIN sizes sb ON sb.id = p.id_b"""
    )


def near_dup_groups_sql(
    threshold: float = 0.8,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket: int = 1000,
) -> str:
    """Connected components over the verified MinHash pair graph via a
    recursive CTE (min-label reachability) — the oracle for
    ops/dedup.py::near_dup_groups."""
    r = n_hashes // bands
    return (
        _minhash_prelude(n_hashes)
        + f""",
bands AS (
  SELECT id, i // {r} AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
  FROM mh GROUP BY id, i // {r}
),
ok_buckets AS (
  SELECT band, key FROM bands GROUP BY band, key
  HAVING count(*) BETWEEN 2 AND {max_bucket}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a
  JOIN ok_buckets o ON a.band = o.band AND a.key = o.key
  JOIN bands b ON b.band = o.band AND b.key = o.key AND a.id < b.id
),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS i
  FROM cand p
  JOIN sh s1 ON s1.id = p.id_a
  JOIN sh s2 ON s2.id = p.id_b AND s2.shingle = s1.shingle
  GROUP BY p.id_a, p.id_b
),
verified AS (
  SELECT p.id_a, p.id_b FROM cand p
  JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
  JOIN sizes sa ON sa.id = p.id_a
  JOIN sizes sb ON sb.id = p.id_b
  WHERE CAST(i.i AS DOUBLE) / CAST(sa.sz + sb.sz - i.i AS DOUBLE) >= {threshold}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION ALL SELECT id_b, id_a FROM verified
),
allids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
reach AS (
  WITH RECURSIVE rr(id, lbl) AS (
    SELECT id, id FROM allids
    UNION
    SELECT e.dst, rr.lbl FROM rr JOIN edges e ON e.src = rr.id
  ) SELECT id, lbl FROM rr
)
SELECT id, min(lbl) AS canonical_id FROM reach GROUP BY id"""
    )


def _simhash_prelude() -> str:
    """64-bit simhash as two unsigned 32-bit halves (matches
    ops/dedup.py::simhash): per-half md5 hex slices, tf-weighted bit
    votes, bit set iff vote > 0."""
    half = SIMHASH_BITS // 2
    return f"""
WITH {_TOKS},
tf AS (
  SELECT id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT id, unnest(toks) AS tok FROM toks) GROUP BY id, tok
),
th AS (
  SELECT id, tf,
         CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) AS hlo,
         CAST('0x' || substring(md5(tok), 9, 8) AS BIGINT) AS hhi
  FROM tf
),
votes AS (
  SELECT id, bb.b AS b,
         sum(CASE WHEN (hlo >> bb.b) & 1 = 1 THEN tf ELSE -tf END) AS vlo,
         sum(CASE WHEN (hhi >> bb.b) & 1 = 1 THEN tf ELSE -tf END) AS vhi
  FROM th CROSS JOIN (SELECT unnest(range({half})) AS b) bb
  GROUP BY id, bb.b
),
sim AS (
  SELECT id,
         CAST(sum(CASE WHEN vhi > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT)
           AS simhash_hi,
         CAST(sum(CASE WHEN vlo > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT)
           AS simhash_lo
  FROM votes GROUP BY id
)"""


def simhash_sql() -> str:
    return _simhash_prelude() + "\nSELECT id, simhash_hi, simhash_lo FROM sim"


def simhash_pairs_sql(
    max_hamming: int = 3, max_bucket: int = 1000
) -> str:
    """Banding-based mirror (4 bands x 16 bits + bucket cap) so the cap
    semantics match the Spark pipeline exactly; without the cap this
    equals direct pairwise by the pigeonhole argument."""
    assert max_hamming < SIMHASH_BANDS
    w = SIMHASH_BITS // SIMHASH_BANDS
    return (
        _simhash_prelude()
        + f""",
banded AS (
  SELECT id, simhash_hi, simhash_lo, bb.band AS band,
         (CASE WHEN bb.band < 2 THEN simhash_lo ELSE simhash_hi END
          >> ((bb.band % 2) * {w})) & {(1 << w) - 1} AS key
  FROM sim CROSS JOIN (SELECT unnest(range({SIMHASH_BANDS})) AS band) bb
),
ok AS (
  SELECT band, key FROM banded GROUP BY band, key
  HAVING count(*) BETWEEN 2 AND {max_bucket}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.simhash_hi AS ha, a.simhash_lo AS la,
         b.simhash_hi AS hb, b.simhash_lo AS lb
  FROM banded a
  JOIN ok o ON a.band = o.band AND a.key = o.key
  JOIN banded b ON b.band = o.band AND b.key = o.key AND a.id < b.id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= {max_hamming}"""
    )


def token_stats_sql() -> str:
    stops = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))
    return f"""
WITH {_TOKS}
SELECT t.id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(regexp_split_to_array({_T}, '\\s+'),
                            x -> length(x) > 0)) AS BIGINT) AS n_ws_tokens,
       CAST(coalesce(list_sum(list_transform(t.toks,
             x -> CAST(ceil(length(x) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_bpe_est,
       CAST(length({_T}) AS BIGINT) AS n_chars,
       CAST(len(list_filter(t.toks, x -> x IN ({stops}))) AS BIGINT) AS n_stopwords
FROM toks t JOIN documents d ON CAST(d.doc_id AS BIGINT) = t.id"""


def quality_sql() -> str:
    stops = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))
    return f"""
WITH {_TOKS},
s AS (
  SELECT t.id,
         CAST(len(t.toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(regexp_split_to_array({_T}, '\\s+'),
                              x -> length(x) > 0)) AS BIGINT) AS n_ws_tokens,
         CAST(length({_T}) AS BIGINT) AS n_chars,
         CAST(len(list_filter(t.toks, x -> x IN ({stops}))) AS BIGINT) AS n_stopwords
  FROM toks t JOIN documents d ON CAST(d.doc_id AS BIGINT) = t.id
)
SELECT id, n_tokens, n_stopwords,
  CASE WHEN n_tokens = 0 THEN 0.0 ELSE
    0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
    + 0.3 * (CASE WHEN (CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)) >= 0.05
                   AND (CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)) <= 0.6
              THEN 1.0 ELSE 0.0 END)
    + 0.3 * (CASE WHEN ((CAST(n_chars AS DOUBLE) - CAST(n_ws_tokens - 1 AS DOUBLE))
                          / CAST(n_tokens AS DOUBLE)) >= 2.0
                   AND ((CAST(n_chars AS DOUBLE) - CAST(n_ws_tokens - 1 AS DOUBLE))
                          / CAST(n_tokens AS DOUBLE)) <= 12.0
              THEN 1.0 ELSE 0.0 END)
  END AS quality
FROM s"""


def language_id_sql() -> str:
    count_cols = []
    for lang, words in LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        count_cols.append(
            f"CAST(len(list_filter(toks, t -> t IN ({lst}))) AS BIGINT) AS n_{lang}"
        )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"n_{lang}" for lang in langs) + ")"
    pred = "CASE WHEN " + best + " = 0 THEN 'und'"
    for lang in sorted(langs):
        pred += f" WHEN n_{lang} = {best} THEN '{lang}'"
    pred += " END"
    return f"""
WITH {_TOKS},
c AS (
  SELECT id, CAST(len(toks) AS BIGINT) AS n_tokens, {', '.join(count_cols)}
  FROM toks
)
SELECT id, n_tokens, {', '.join(f'n_{lang}' for lang in langs)}, {pred} AS lang_pred
FROM c"""


def fingerprint_sql() -> str:
    g = (
        f"CASE WHEN length({_T}) >= {FP_GRAM} THEN "
        f"list_transform(range(1, length({_T}) - {FP_GRAM - 2}), "
        f"i -> {_md5int(f'substring({_T}, CAST(i AS INT), {FP_GRAM})')}) "
        f"ELSE [] END"
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS id,
       CAST(len({g}) AS BIGINT) AS n_grams,
       list_min({g}) AS fp_min,
       list_max({g}) AS fp_max
FROM documents"""


def ann_quantized_sql(query_id: int = 0, k: int = 10) -> str:
    return f"""
WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
),
flat AS (
  SELECT id, CAST(k AS INT) AS k, qv[CAST(k AS INT)] AS v
  FROM q, UNNEST(range(1, len(qv) + 1)) AS u(k)
),
qflat AS (SELECT k, v FROM flat WHERE id = {query_id}),
nq AS (SELECT CAST(sum(v * v) AS BIGINT) AS n FROM qflat),
dots AS (
  SELECT f.id,
         CAST(sum(f.v * qf.v) AS BIGINT) AS dot,
         CAST(sum(f.v * f.v) AS BIGINT) AS nself
  FROM flat f JOIN qflat qf ON f.k = qf.k
  WHERE f.id != {query_id}
  GROUP BY f.id
),
scored AS (
  SELECT id,
         CAST(dot AS DOUBLE)
           / (sqrt(CAST(nself AS DOUBLE)) * sqrt(CAST((SELECT n FROM nq) AS DOUBLE)))
           AS sim
  FROM dots
)
SELECT CAST(row_number() OVER (ORDER BY sim DESC, id ASC) AS BIGINT) AS rank, id, sim
FROM scored ORDER BY sim DESC, id ASC LIMIT {k}"""


_QFLAT = """
q AS (
  SELECT CAST(vec_id AS BIGINT) AS id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
),
flat AS (
  SELECT id, CAST(k AS INT) AS k, qv[CAST(k AS INT)] AS v
  FROM q, UNNEST(range(1, len(qv) + 1)) AS u(k)
)"""


def _lsh_keys_cte(n_planes: int = 32, bands: int = 4, seed: int = 42) -> str:
    """CTE chain ``planes -> pdots -> keys``: mirror of
    ops/similarity.py::lsh_band_keys — md5-derived int64 hyperplanes,
    exact integer sign projections, banded keys."""
    r = n_planes // bands
    return f"""
planes AS (
  SELECT CAST(pj.j AS INT) AS j, CAST(pd.d AS INT) + 1 AS k,
         CAST('0x' || substring(md5('plane:{seed}:' || pj.j || ':' || pd.d), 1, 15)
              AS BIGINT) % 2001 - 1000 AS w
  FROM UNNEST(range({n_planes})) AS pj(j),
       UNNEST(range((SELECT max(len(qv)) FROM q))) AS pd(d)
),
pdots AS (
  SELECT f.id, p.j, CAST(sum(f.v * p.w) AS BIGINT) AS dj
  FROM flat f JOIN planes p ON p.k = f.k
  GROUP BY f.id, p.j
),
keys AS (
  SELECT id, CAST(j // {r} AS INT) AS band,
         CAST(sum(CASE WHEN dj > 0 THEN CAST(1 AS BIGINT) << (j % {r})
                       ELSE 0 END) AS BIGINT) AS key
  FROM pdots GROUP BY id, j // {r}
)"""


def _rerank_quantized(cand_cte: str, query_id: int, k: int) -> str:
    """Top-k quantized-cosine re-rank of a candidate id set CTE."""
    return f"""
qflat AS (SELECT k, v FROM flat WHERE id = {query_id}),
nq AS (SELECT CAST(sum(v * v) AS BIGINT) AS n FROM qflat),
rdots AS (
  SELECT f.id,
         CAST(sum(f.v * qf.v) AS BIGINT) AS dot,
         CAST(sum(f.v * f.v) AS BIGINT) AS nself
  FROM flat f JOIN qflat qf ON f.k = qf.k
  WHERE f.id != {query_id} AND f.id IN (SELECT id FROM {cand_cte})
  GROUP BY f.id
),
rscored AS (
  SELECT id,
         CAST(dot AS DOUBLE)
           / (sqrt(CAST(nself AS DOUBLE)) * sqrt(CAST((SELECT n FROM nq) AS DOUBLE)))
           AS sim
  FROM rdots
)
SELECT CAST(row_number() OVER (ORDER BY sim DESC, id ASC) AS BIGINT) AS rank, id, sim
FROM rscored ORDER BY sim DESC, id ASC LIMIT {k}"""


def ann_lsh_sql(
    query_id: int = 0, k: int = 10,
    n_planes: int = 32, bands: int = 4, seed: int = 42,
    max_bucket: int = 100_000,
) -> str:
    """Mirror of ops/similarity.py::cosine_topk_lsh — candidates share
    >= 1 of the query's band keys (over-cap buckets skipped, smallest
    kept as fallback), exact quantized re-rank."""
    return f"""
WITH {_QFLAT},
{_lsh_keys_cte(n_planes, bands, seed)},
qkeys AS (SELECT band, key FROM keys WHERE id = {query_id}),
bsz AS (
  SELECT k2.band, k2.key, count(*) AS n
  FROM keys k2 JOIN qkeys USING (band, key)
  GROUP BY k2.band, k2.key
),
kept AS (
  SELECT band, key FROM bsz WHERE n <= {max_bucket}
  UNION ALL
  SELECT band, key FROM (
    SELECT band, key FROM bsz ORDER BY n ASC, band ASC LIMIT 1
  ) WHERE NOT EXISTS (SELECT 1 FROM bsz WHERE n <= {max_bucket})
),
cand AS (SELECT DISTINCT k3.id FROM keys k3 JOIN kept USING (band, key)),
{_rerank_quantized("cand", query_id, k)}"""


def embedding_dup_pairs_lsh_sql(
    threshold: float = 0.42,
    n_planes: int = 32, bands: int = 4, seed: int = 42,
    max_bucket: int = 10_000,
) -> str:
    """Mirror of ops/similarity.py::embedding_dup_pairs_lsh — banded
    bucket self-join with cap, exact quantized-cosine verification."""
    sim = (
        "CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))"
    )
    return f"""
WITH {_QFLAT},
{_lsh_keys_cte(n_planes, bands, seed)},
ok AS (
  SELECT band, key FROM keys GROUP BY band, key
  HAVING count(*) BETWEEN 2 AND {max_bucket}
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM keys a
  JOIN ok o ON a.band = o.band AND a.key = o.key
  JOIN keys b ON b.band = o.band AND b.key = o.key AND a.id < b.id
),
norms AS (SELECT id, CAST(sum(v * v) AS BIGINT) AS n2 FROM flat GROUP BY id),
pdots2 AS (
  SELECT p.id_a, p.id_b, CAST(sum(fa.v * fb.v) AS BIGINT) AS dot
  FROM pairs p
  JOIN flat fa ON fa.id = p.id_a
  JOIN flat fb ON fb.id = p.id_b AND fb.k = fa.k
  GROUP BY p.id_a, p.id_b
)
SELECT d.id_a, d.id_b, {sim} AS sim
FROM pdots2 d
JOIN norms na ON na.id = d.id_a
JOIN norms nb ON nb.id = d.id_b
WHERE {sim} >= {threshold}"""


def ann_ivf_sql(
    query_id: int = 0, k: int = 10,
    n_centroids: int = 16, nprobe: int = 4, seed: int = 42,
) -> str:
    """Mirror of ops/similarity.py::cosine_topk_ivf with iters=1:
    md5-ranked seeding, integer dot / greatest(sqrt(n2),1) assignment
    (row_number ties to lowest cluster), truncating-division recenter,
    nprobe probing, exact quantized re-rank in the probed cells."""

    def assign(cent: str, cn: str, d: str, a: str) -> str:
        return f"""
{d} AS (
  SELECT f.id, c0.c, CAST(sum(f.v * c0.w) AS BIGINT) AS dot
  FROM flat f JOIN {cent} c0 ON c0.k = f.k
  GROUP BY f.id, c0.c
),
{a} AS (
  SELECT id, c AS cluster FROM (
    SELECT {d}.id, {d}.c,
           row_number() OVER (
             PARTITION BY {d}.id
             ORDER BY CAST({d}.dot AS DOUBLE)
                        / greatest(sqrt(CAST(cn.n2 AS DOUBLE)), 1.0) DESC,
                      {d}.c ASC
           ) AS rn
    FROM {d} JOIN {cn} cn USING (c)
  ) WHERE rn = 1
)"""

    return f"""
WITH {_QFLAT},
hk AS (
  SELECT id, qv,
         CAST('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM q
),
seeds AS (
  SELECT row_number() OVER (ORDER BY h, id) - 1 AS c, qv
  FROM hk ORDER BY h, id LIMIT {n_centroids}
),
cent0 AS (
  SELECT CAST(c AS INT) AS c, CAST(kk AS INT) AS k, qv[CAST(kk AS INT)] AS w
  FROM seeds, UNNEST(range(1, len(qv) + 1)) AS u(kk)
),
cn0 AS (SELECT c, CAST(sum(w * w) AS BIGINT) AS n2 FROM cent0 GROUP BY c),
{assign("cent0", "cn0", "d0", "a0")},
sums AS (
  SELECT a0.cluster AS c, f.k, CAST(sum(f.v) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM a0 JOIN flat f ON f.id = a0.id
  GROUP BY a0.cluster, f.k
),
cent1 AS (
  SELECT c0.c, c0.k, CAST(coalesce(s.s // s.n, c0.w) AS BIGINT) AS w
  FROM cent0 c0 LEFT JOIN sums s ON s.c = c0.c AND s.k = c0.k
),
cn1 AS (SELECT c, CAST(sum(w * w) AS BIGINT) AS n2 FROM cent1 GROUP BY c),
{assign("cent1", "cn1", "d1", "a1")},
qf0 AS (SELECT k, v FROM flat WHERE id = {query_id}),
qd AS (
  SELECT c1.c, CAST(sum(qf0.v * c1.w) AS BIGINT) AS dot
  FROM qf0 JOIN cent1 c1 ON c1.k = qf0.k
  GROUP BY c1.c
),
probe AS (
  SELECT c FROM (
    SELECT qd.c,
           row_number() OVER (
             ORDER BY CAST(qd.dot AS DOUBLE)
                        / greatest(sqrt(CAST(cn1.n2 AS DOUBLE)), 1.0) DESC,
                      qd.c ASC
           ) AS rn
    FROM qd JOIN cn1 USING (c)
  ) WHERE rn <= {nprobe}
),
cand AS (SELECT id FROM a1 WHERE cluster IN (SELECT c FROM probe)),
{_rerank_quantized("cand", query_id, k)}"""


def ann_batch_sql(query_ids: list[int], k: int = 10) -> str:
    """Mirror of ops/similarity.py::cosine_topk_quantized_batch."""
    ids = ", ".join(str(int(x)) for x in query_ids)
    return f"""
WITH {_QFLAT},
qf AS (SELECT id AS query_id, k, v FROM flat WHERE id IN ({ids})),
nq AS (SELECT query_id, CAST(sum(v * v) AS BIGINT) AS n FROM qf GROUP BY query_id),
bdots AS (
  SELECT qf.query_id, f.id,
         CAST(sum(f.v * qf.v) AS BIGINT) AS dot,
         CAST(sum(f.v * f.v) AS BIGINT) AS nself
  FROM flat f JOIN qf ON qf.k = f.k
  WHERE f.id != qf.query_id
  GROUP BY qf.query_id, f.id
),
bscored AS (
  SELECT d.query_id, d.id,
         CAST(d.dot AS DOUBLE)
           / (sqrt(CAST(d.nself AS DOUBLE)) * sqrt(CAST(nq.n AS DOUBLE))) AS sim
  FROM bdots d JOIN nq ON nq.query_id = d.query_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id ASC)
            AS BIGINT) AS rank,
       id, sim
FROM bscored
QUALIFY rank <= {k}"""


def ann_float_sql(query_vec: list[float], k: int = 10) -> str:
    """Mirror of ops/similarity.py::cosine_topk_float — the SAME
    left-to-right double fold Spark's F.aggregate applies, written as
    an explicit parenthesized sum so both engines produce identical
    IEEE double bits."""
    import numpy as np

    dot = "CAST(0.0 AS DOUBLE)"
    nrm = "CAST(0.0 AS DOUBLE)"
    for i, qv in enumerate(query_vec):
        e = f"CAST(embedding[{i + 1}] AS DOUBLE)"
        dot = f"({dot} + {e} * CAST({float(qv)!r} AS DOUBLE))"
        nrm = f"({nrm} + {e} * {e})"
    qnorm = float(np.sqrt(np.sum(np.asarray(query_vec, dtype=np.float64) ** 2)))
    return f"""
WITH scored AS (
  SELECT CAST(vec_id AS BIGINT) AS id,
         {dot} / (sqrt({nrm}) * CAST({qnorm!r} AS DOUBLE)) AS sim
  FROM embeddings
)
SELECT CAST(row_number() OVER (ORDER BY sim DESC, id ASC) AS BIGINT) AS rank, id, sim
FROM scored ORDER BY sim DESC, id ASC LIMIT {k}"""


def embedding_dup_pairs_sql(threshold: float = 0.42) -> str:
    """All-pairs quantized-cosine near-dup pairs (exact int64 dots)."""
    sim = (
        "CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))"
    )
    return f"""
WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
),
flat AS (
  SELECT id, CAST(k AS INT) AS k, qv[CAST(k AS INT)] AS v
  FROM q, UNNEST(range(1, len(qv) + 1)) AS u(k)
),
norms AS (SELECT id, CAST(sum(v * v) AS BIGINT) AS n2 FROM flat GROUP BY id),
dots AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(sum(a.v * b.v) AS BIGINT) AS dot
  FROM flat a JOIN flat b ON a.k = b.k AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT d.id_a, d.id_b, {sim} AS sim
FROM dots d
JOIN norms na ON na.id = d.id_a
JOIN norms nb ON nb.id = d.id_b
WHERE {sim} >= {threshold}"""


def media_stats_sql() -> str:
    return f"""
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS mime,
       CAST(octet_length(encode({_T})) AS BIGINT) AS n_bytes,
       sha256({_T}) AS payload_sha256,
       CAST(length({_T}) % 640 + 1 AS INT) AS width,
       CAST(length({_T}) % 480 + 1 AS INT) AS height
FROM documents"""


def media_features_sql(feature_dim: int = 16) -> str:
    """Mirror of ops/multimodal.py::extract_feature_rows — per-dim
    16-bit integers sliced from the payload sha256 hex digest."""
    return f"""
WITH m AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, sha256({_T}) AS hx FROM documents
)
SELECT media_id, CAST(u.d AS BIGINT) AS dim,
       CAST('0x' || substring(hx, CAST(u.d AS INT) * 4 + 1, 4) AS BIGINT) AS value
FROM m, UNNEST(range({feature_dim})) AS u(d)"""


def frame_samples_sql(n_samples: int = 4) -> str:
    return f"""
SELECT DISTINCT CAST(doc_id AS BIGINT) AS media_id,
       CAST(doc_id % 100 + 1 AS INT) AS n_frames,
       CAST(floor(CAST(u.i AS BIGINT) * (doc_id % 100 + 1) / {n_samples}.0) AS INT)
         AS frame_idx
FROM documents, UNNEST(range({n_samples})) AS u(i)
WHERE doc_id % 3 = 2"""


def ann_pq_sql(
    query_id: int = 0, k: int = 10,
    m: int = 4, n_centroids: int = 16, dim: int = 64,
) -> str:
    """Mirror of ops/similarity.py::cosine_topk_pq — product
    quantization (Jegou et al. 2011 ADC) with the repo's integer
    determinism: md5-ranked seed rows shared across subspaces, one
    exact-int64-L2 Lloyd step (argmin ties -> lowest codeword,
    truncating-division recenter), then asymmetric distance = sum of
    the query's per-subspace exact distances to each stored code."""
    dsub = dim // m

    def assign(cent: str, d: str, a: str) -> str:
        return f"""
{d} AS (
  SELECT f.id, f.j, c0.c,
         CAST(sum((c0.w - f.v) * (c0.w - f.v)) AS BIGINT) AS dist
  FROM fsub f JOIN {cent} c0 ON c0.j = f.j AND c0.dd = f.dd
  GROUP BY f.id, f.j, c0.c
),
{a} AS (
  SELECT id, j, c FROM (
    SELECT id, j, c,
           row_number() OVER (PARTITION BY id, j ORDER BY dist ASC, c ASC) AS rn
    FROM {d}
  ) WHERE rn = 1
)"""

    return f"""
WITH {_QFLAT},
hk AS (
  SELECT id, qv,
         CAST('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM q
),
seeds AS (
  SELECT row_number() OVER (ORDER BY h, id) - 1 AS c, qv
  FROM hk ORDER BY h, id LIMIT {n_centroids}
),
cent0 AS (
  SELECT CAST((kk - 1) // {dsub} AS INT) AS j, CAST(c AS INT) AS c,
         CAST((kk - 1) % {dsub} AS INT) AS dd, qv[CAST(kk AS INT)] AS w
  FROM seeds, UNNEST(range(1, len(qv) + 1)) AS u(kk)
),
fsub AS (
  SELECT id, CAST((k - 1) // {dsub} AS INT) AS j,
         CAST((k - 1) % {dsub} AS INT) AS dd, v
  FROM flat
),
{assign("cent0", "d0", "a0")},
sums AS (
  SELECT a0.j, a0.c, f.dd, CAST(sum(f.v) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM a0 JOIN fsub f ON f.id = a0.id AND f.j = a0.j
  GROUP BY a0.j, a0.c, f.dd
),
cent1 AS (
  SELECT c0.j, c0.c, c0.dd, CAST(coalesce(s.s // s.n, c0.w) AS BIGINT) AS w
  FROM cent0 c0 LEFT JOIN sums s
    ON s.j = c0.j AND s.c = c0.c AND s.dd = c0.dd
),
{assign("cent1", "d1", "a1")},
qsub AS (SELECT j, dd, v FROM fsub WHERE id = {query_id}),
tbl AS (
  SELECT c1.j, c1.c, CAST(sum((c1.w - qs.v) * (c1.w - qs.v)) AS BIGINT) AS dist
  FROM cent1 c1 JOIN qsub qs ON qs.j = c1.j AND qs.dd = c1.dd
  GROUP BY c1.j, c1.c
),
pqscored AS (
  SELECT a1.id, CAST(sum(t.dist) AS BIGINT) AS approx_dist
  FROM a1 JOIN tbl t ON t.j = a1.j AND t.c = a1.c
  WHERE a1.id != {query_id}
  GROUP BY a1.id
)
SELECT CAST(row_number() OVER (ORDER BY approx_dist ASC, id ASC) AS BIGINT) AS rank,
       id, approx_dist
FROM pqscored ORDER BY approx_dist ASC, id ASC LIMIT {k}"""


def _grams_expr(n: int) -> str:
    """Word n-gram list from the `toks` list column (space-joined),
    empty when the doc has < n tokens (range end-exclusive)."""
    if n == 1:
        return "toks"
    return (
        f"list_transform(range(1, len(toks) - {n} + 2),"
        f" i -> array_to_string(toks[i : i + {n - 1}], ' '))"
    )


def repetition_stats_sql(max_n: int = 3) -> str:
    cols = ["id"]
    for n in range(1, max_n + 1):
        g = _grams_expr(n)
        cols.append(f"CAST(len({g}) AS BIGINT) AS total_{n}")
        cols.append(f"CAST(len(list_distinct({g})) AS BIGINT) AS distinct_{n}")
        cols.append(
            f"CASE WHEN len({g}) > 0 THEN"
            f" CAST(len({g}) - len(list_distinct({g})) AS DOUBLE)"
            f" / CAST(len({g}) AS DOUBLE)"
            f" ELSE 0.0 END AS dup_frac_{n}"
        )
    return f"""
WITH {_TOKS}
SELECT {', '.join(cols)} FROM toks"""


def ngram_contamination_sql(n: int, bench_mod: int = 50) -> str:
    """Mirror of the driver entry: benchmark = docs with
    doc_id % bench_mod == 0; remaining docs checked for word-n-gram
    occurrence overlap against the benchmark's distinct gram set."""
    g = _grams_expr(n)
    return f"""
WITH {_TOKS},
grams AS (SELECT id, {g} AS grams FROM toks),
bench AS (
  SELECT DISTINCT gram FROM grams, UNNEST(grams) AS u(gram)
  WHERE id % {bench_mod} = 0
),
target AS (SELECT id, grams FROM grams WHERE id % {bench_mod} != 0),
hits AS (
  SELECT t.id, CAST(count(*) AS BIGINT) AS n_contaminated
  FROM target t, UNNEST(t.grams) AS u(gram)
  JOIN bench b ON b.gram = u.gram
  GROUP BY t.id
)
SELECT t.id,
       CAST(len(t.grams) AS BIGINT) AS n_grams,
       coalesce(h.n_contaminated, 0) AS n_contaminated,
       CASE WHEN len(t.grams) > 0
            THEN CAST(coalesce(h.n_contaminated, 0) AS DOUBLE)
                   / CAST(len(t.grams) AS DOUBLE)
            ELSE 0.0 END AS contamination_frac
FROM target t LEFT JOIN hits h ON h.id = t.id"""


def _pii_docs_cte() -> str:
    """Deterministic PII-injected corpus: each document gets an email,
    a phone and an IPv4 derived from doc_id (mirrors the driver
    entry's Spark-side injection expression verbatim)."""
    return """
pii_docs AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
           || '@example.com or +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
           || CAST(doc_id % 100 AS VARCHAR) || ' end' AS t
  FROM documents
)"""


def pii_scrub_sql() -> str:
    """ops/text.py::pii_scrub mirror over the injected corpus: per-class
    match counts + sentinel-redacted text (same RE2-safe patterns, same
    redaction order)."""
    from lucenenet_spark.ops.text import PII_PATTERNS

    counts = ", ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    clean = "t"
    for name, pat in PII_PATTERNS.items():
        clean = f"regexp_replace({clean}, '{pat}', '<{name.upper()}>', 'g')"
    return f"""
WITH {_pii_docs_cte().strip()}
SELECT id, {counts}, {clean} AS clean_text FROM pii_docs"""


def line_dedup_sql(min_doc_frac: float = 0.01, min_docs: int = 2) -> str:
    """ops/text.py::line_dedup mirror over a corpus where every doc
    carries one shared boilerplate line plus a unique tail line."""
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         coalesce(text, '') || chr(10) || 'ALL RIGHTS RESERVED boilerplate line'
           || chr(10) || 'unique tail ' || CAST(doc_id AS VARCHAR) AS t
  FROM documents
),
lines AS (
  SELECT id, CAST(z[2] - 1 AS BIGINT) AS lineno, z[1] AS line
  FROM (SELECT id, string_split(t, chr(10)) AS ls FROM base),
       UNNEST(list_zip(ls, range(1, len(ls) + 1))) AS u(z)
),
thr AS (
  SELECT greatest({int(min_docs)},
                  CAST({min_doc_frac!r} * (SELECT count(*) FROM base) AS BIGINT)) AS v
),
boiler AS (
  SELECT line FROM lines WHERE trim(line) != ''
  GROUP BY line HAVING count(DISTINCT id) > (SELECT v FROM thr)
),
kept AS (
  SELECT l.* FROM lines l LEFT JOIN boiler b ON l.line = b.line
  WHERE b.line IS NULL
),
rebuilt AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(line, chr(10) ORDER BY lineno) AS clean_text
  FROM kept GROUP BY id
),
nl AS (SELECT id, CAST(count(*) AS BIGINT) AS n_lines FROM lines GROUP BY id)
SELECT b.id,
       coalesce(nl.n_lines, 0) AS n_lines,
       coalesce(r.n_kept, 0) AS n_kept,
       coalesce(r.clean_text, '') AS clean_text
FROM base b LEFT JOIN nl ON b.id = nl.id LEFT JOIN rebuilt r ON b.id = r.id"""


def lm_doc_quality_sql(alpha: float = 0.4) -> str:
    """ops/text.py::lm_doc_quality mirror: bigram stupid-backoff mean
    log-prob per doc, fold in token order (both engines accumulate the
    same doubles in the same sequence)."""
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         regexp_extract_all(lower(coalesce(text, '')), '{_RE}') AS toks
  FROM documents
),
pairs AS (
  SELECT id, CAST(z[2] - 1 AS BIGINT) AS pos, z[1][1] AS w1, z[1][2] AS w2
  FROM (SELECT id, list_zip(toks[1:-2], toks[2:]) AS ps FROM base
        WHERE len(toks) >= 2),
       UNNEST(list_zip(ps, range(1, len(ps) + 1))) AS u(z)
),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS u
  FROM (SELECT unnest(toks) AS w FROM base) GROUP BY w
),
big AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS b FROM pairs GROUP BY w1, w2
),
total AS (SELECT CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS t FROM base),
lps AS (
  SELECT p.id, p.pos,
         CAST(CAST(
           CASE WHEN bg.b IS NOT NULL
                THEN ln(CAST(bg.b AS DOUBLE) / CAST(u1.u AS DOUBLE))
                ELSE ln({float(alpha)!r} * CAST(u2.u AS DOUBLE)
                        / CAST((SELECT t FROM total) AS DOUBLE))
           END AS REAL) AS DOUBLE) AS lp
  FROM pairs p
  LEFT JOIN big bg ON p.w1 = bg.w1 AND p.w2 = bg.w2
  JOIN uni u1 ON p.w1 = u1.w
  JOIN uni u2 ON p.w2 = u2.w
),
folded AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_scored,
         list_reduce(list(lp ORDER BY pos), (x, y) -> x + y)
           / CAST(count(*) AS DOUBLE) AS avg_logprob
  FROM lps GROUP BY id
)
SELECT b.id, coalesce(f.n_scored, 0) AS n_scored,
       coalesce(f.avg_logprob, 0.0) AS avg_logprob
FROM base b LEFT JOIN folded f ON b.id = f.id"""


def pack_sequences_sql(budget: int = 512) -> str:
    """Oracle for ops/sampling.py::pack_sequences — the window prefix
    sum per shard with integer seq/offset math."""
    return f"""
WITH {_TOKS},
base AS (
  SELECT t.id, CAST(d.lang AS VARCHAR) AS shard,
         CAST(len(t.toks) AS BIGINT) AS n_tokens
  FROM toks t JOIN documents d ON CAST(d.doc_id AS BIGINT) = t.id
),
cum AS (
  SELECT id, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM base
)
SELECT id, shard, n_tokens,
       cum_before // {int(budget)} AS seq,
       cum_before % {int(budget)} AS seq_offset
FROM cum"""


def stratified_split_sql(train_pct: int = 80, val_pct: int = 10) -> str:
    """Oracle for ops/sampling.py::stratified_split — md5-prefix
    bucket mod 100 per doc id."""
    from lucenenet_spark.ops.hashing import md5_prefix_int_sql

    b = md5_prefix_int_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH {_TOKS},
base AS (
  SELECT CAST(d.lang AS VARCHAR) AS stratum,
         CASE WHEN ({b}) % 100 < {int(train_pct)} THEN 'train'
              WHEN ({b}) % 100 < {int(train_pct + val_pct)} THEN 'val'
              ELSE 'test' END AS split,
         CAST(len(t.toks) AS BIGINT) AS tok
  FROM documents d JOIN toks t ON CAST(d.doc_id AS BIGINT) = t.id
)
SELECT stratum, split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS n_tokens
FROM base GROUP BY stratum, split"""


def temperature_mix_sql() -> str:
    """Oracle for ops/sampling.py::temperature_mix — sqrt weight
    scaled to int, integer-division share."""
    return f"""
WITH {_TOKS},
per AS (
  SELECT CAST(d.lang AS VARCHAR) AS stratum,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(t.toks)) AS BIGINT) AS n_tokens
  FROM documents d JOIN toks t ON CAST(d.doc_id AS BIGINT) = t.id
  GROUP BY 1
),
w AS (
  SELECT stratum, n_docs, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS weight
  FROM per
)
SELECT stratum, n_docs, n_tokens, weight,
       CAST((weight * 1000000) // (SELECT sum(weight) FROM w) AS BIGINT)
         AS share_ppm
FROM w"""


def domain_cap_sql(cap: int = 100) -> str:
    """Oracle for ops/sampling.py::domain_cap — md5-prefix hash rank
    per domain, keep rank <= cap."""
    from lucenenet_spark.ops.hashing import md5_prefix_int_sql

    h = md5_prefix_int_sql("CAST(doc_id AS VARCHAR)")
    return f"""
SELECT docid, domain, hrank FROM (
  SELECT CAST(doc_id AS BIGINT) AS docid,
         CAST(source AS VARCHAR) AS domain,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY {h} ASC, doc_id ASC
         ) AS BIGINT) AS hrank
  FROM documents
) WHERE hrank <= {cap}"""


def dsir_weights_sql(target_sql: str = "lang = 'en'", n_buckets: int = 4096) -> str:
    """Mirror of ops/sampling.py::dsir_weights — hashed uni+bigram
    features, add-1 smoothed fixed-point log-ratio per bucket,
    integer per-doc sums."""
    from lucenenet_spark.ops.hashing import md5_prefix_int_sql

    h = md5_prefix_int_sql("feat")
    return f"""
WITH {_TOKS},
tagged AS (
  SELECT t.id, t.toks, (CASE WHEN {target_sql} THEN TRUE ELSE FALSE END) AS tgt
  FROM toks t JOIN documents d ON CAST(d.doc_id AS BIGINT) = t.id
),
uni AS (SELECT id, tgt, unnest(toks) AS feat FROM tagged),
bi AS (
  SELECT id, tgt, z[1] || ' ' || z[2] AS feat
  FROM tagged, UNNEST(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS u(z)
  WHERE len(toks) >= 2
),
feats AS (
  SELECT id, tgt, {h} % {n_buckets} AS bucket
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
doc_counts AS (SELECT id, bucket, CAST(count(*) AS BIGINT) AS c
               FROM feats GROUP BY id, bucket),
marg AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS src_f,
         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tgt_f
  FROM feats GROUP BY bucket
),
totals AS (SELECT CAST(sum(src_f) AS DOUBLE) AS s, CAST(sum(tgt_f) AS DOUBLE) AS t FROM marg),
ratios AS (
  SELECT m.bucket,
         CAST(floor(ln((CAST(m.tgt_f AS DOUBLE) + 1.0) / (tt.t + {float(n_buckets)!r})) * 1000000) AS BIGINT)
         - CAST(floor(ln((CAST(m.src_f AS DOUBLE) + 1.0) / (tt.s + {float(n_buckets)!r})) * 1000000) AS BIGINT)
         AS r_fp
  FROM marg m CROSS JOIN totals tt
),
weights AS (
  SELECT dc.id, CAST(sum(dc.c * r.r_fp) AS BIGINT) AS w
  FROM doc_counts dc JOIN ratios r ON r.bucket = dc.bucket
  GROUP BY dc.id
)
SELECT CAST(d.doc_id AS BIGINT) AS id,
       CAST(coalesce(w.w, 0) AS BIGINT) AS weight_fp
FROM documents d LEFT JOIN weights w ON w.id = CAST(d.doc_id AS BIGINT)"""


def exact_substr_spans_sql(k: int = 8) -> str:
    """Mirror of ops/text.py::exact_substr_spans — k-token window
    hashes with corpus count > 1, merged per doc into maximal spans."""
    from lucenenet_spark.ops.hashing import md5_prefix_int_sql

    h = md5_prefix_int_sql(f"array_to_string(toks[i:i + {k - 1}], ' ')")
    return f"""
WITH {_TOKS},
wins AS (
  SELECT id, CAST(i - 1 AS BIGINT) AS start, {h} AS h
  FROM toks, UNNEST(range(1, len(toks) - {k} + 2)) AS r(i)
  WHERE len(toks) >= {k}
),
dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
dw AS (SELECT w.id, w.start, w.start + {k} AS e FROM wins w JOIN dup USING (h)),
isl AS (
  SELECT id, start, e,
         CASE WHEN max(e) OVER (PARTITION BY id ORDER BY start
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR start > max(e) OVER (PARTITION BY id ORDER BY start
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS ni
  FROM dw
),
isl2 AS (
  SELECT *, sum(ni) OVER (PARTITION BY id ORDER BY start
            ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
)
SELECT id, CAST(min(start) AS BIGINT) AS span_start,
       CAST(max(e) AS BIGINT) AS span_end
FROM isl2 GROUP BY id, island"""


def gumbel_topk_sample_sql(
    n: int, target_sql: str = "lang = 'en'", n_buckets: int = 4096,
    seed: str = "gumbel-v1",
) -> str:
    """Mirror of ops/sampling.py::gumbel_topk_sample composed over
    dsir_weights_sql — softmax sampling via deterministic Gumbel keys."""
    from lucenenet_spark.ops.hashing import md5_prefix_int_sql

    base = dsir_weights_sql(target_sql, n_buckets)
    h = md5_prefix_int_sql(f"'{seed}:' || CAST(id AS VARCHAR)")
    two60 = float(1 << 60)
    return f"""
WITH dsir AS ({base}),
keyed AS (
  SELECT id, weight_fp,
         weight_fp + CAST(floor(-ln(-ln(least((CAST({h} AS DOUBLE) + 1.0) / {two60!r}, 0.9999999999999999)))
                          * 1000000) AS BIGINT) AS key_fp
  FROM dsir
)
SELECT CAST(row_number() OVER (ORDER BY key_fp DESC, id ASC) AS BIGINT) AS rank,
       id, weight_fp, key_fp
FROM keyed ORDER BY key_fp DESC, id ASC LIMIT {n}"""


def _ivf_assign_sql(cent: str, cn: str, d: str, a: str) -> str:
    """One k-means assignment round as CTEs: integer dots against the
    ``cent`` centroid table, argmax by dot/|centroid| with ties to the
    lowest cluster id (mirrors _assign_clusters_quant)."""
    return f"""
{d} AS (
  SELECT f.id, c0.c, CAST(sum(f.v * c0.w) AS BIGINT) AS dot
  FROM flat f JOIN {cent} c0 ON c0.k = f.k
  GROUP BY f.id, c0.c
),
{a} AS (
  SELECT id, c AS cluster FROM (
    SELECT {d}.id, {d}.c,
           row_number() OVER (
             PARTITION BY {d}.id
             ORDER BY CAST({d}.dot AS DOUBLE)
                        / greatest(sqrt(CAST(cn.n2 AS DOUBLE)), 1.0) DESC,
                      {d}.c ASC
           ) AS rn
    FROM {d} JOIN {cn} cn USING (c)
  ) WHERE rn = 1
)"""


def _ivf_cluster_chain(n_centroids: int) -> str:
    """The full iters=1 clustering CTE chain (hk seeds -> cent0 ->
    assign a0 -> recenter cent1 -> assign a1) shared by the IVF-backed
    oracles. Expects ``q``/``flat`` (from _QFLAT) upstream."""
    return f"""hk AS (
  SELECT id, qv,
         CAST('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM q
),
seeds AS (
  SELECT row_number() OVER (ORDER BY h, id) - 1 AS c, qv
  FROM hk ORDER BY h, id LIMIT {n_centroids}
),
cent0 AS (
  SELECT CAST(c AS INT) AS c, CAST(kk AS INT) AS k, qv[CAST(kk AS INT)] AS w
  FROM seeds, UNNEST(range(1, len(qv) + 1)) AS u(kk)
),
cn0 AS (SELECT c, CAST(sum(w * w) AS BIGINT) AS n2 FROM cent0 GROUP BY c),
{_ivf_assign_sql("cent0", "cn0", "d0", "a0")},
sums AS (
  SELECT a0.cluster AS c, f.k, CAST(sum(f.v) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM a0 JOIN flat f ON f.id = a0.id
  GROUP BY a0.cluster, f.k
),
cent1 AS (
  SELECT c0.c, c0.k, CAST(coalesce(s.s // s.n, c0.w) AS BIGINT) AS w
  FROM cent0 c0 LEFT JOIN sums s ON s.c = c0.c AND s.k = c0.k
),
cn1 AS (SELECT c, CAST(sum(w * w) AS BIGINT) AS n2 FROM cent1 GROUP BY c),
{_ivf_assign_sql("cent1", "cn1", "d1", "a1")}"""


def semdedup_sql(
    eps: float = 0.42, n_centroids: int = 8, seed: int = 42,
) -> str:
    """Mirror of ops/similarity.py::semdedup with iters=1: the
    ann_ivf_sql clustering chain (md5-ranked seeds, integer-dot
    assignment, truncating-division recenter, reassign), then
    similarity-to-centroid ranking inside each cluster and a
    max-over-earlier-members pairwise cosine per point."""

    return f"""
WITH {_QFLAT},
{_ivf_cluster_chain(n_centroids)},
n2v AS (SELECT id, CAST(sum(v * v) AS BIGINT) AS n2 FROM flat GROUP BY id),
cd AS (
  SELECT a1.id, a1.cluster, CAST(sum(f.v * c.w) AS BIGINT) AS dot
  FROM a1 JOIN flat f ON f.id = a1.id
       JOIN cent1 c ON c.c = a1.cluster AND c.k = f.k
  GROUP BY a1.id, a1.cluster
),
ranked AS (
  SELECT cd.id, cd.cluster,
         row_number() OVER (
           PARTITION BY cd.cluster
           ORDER BY CAST(cd.dot AS DOUBLE)
                      / (greatest(sqrt(CAST(n2v.n2 AS DOUBLE)), 1.0)
                         * greatest(sqrt(CAST(cn1.n2 AS DOUBLE)), 1.0)) DESC,
                    cd.id ASC
         ) AS rn
  FROM cd JOIN n2v ON n2v.id = cd.id JOIN cn1 ON cn1.c = cd.cluster
),
pd AS (
  SELECT a.id AS id_i, b.id AS id_e,
         CAST(sum(fa.v * fb.v) AS BIGINT) AS dot
  FROM ranked a
       JOIN ranked b ON b.cluster = a.cluster AND b.rn < a.rn
       JOIN flat fa ON fa.id = a.id
       JOIN flat fb ON fb.id = b.id AND fb.k = fa.k
  GROUP BY a.id, b.id
),
ps AS (
  SELECT pd.id_i AS id,
         max(CAST(pd.dot AS DOUBLE)
               / (greatest(sqrt(CAST(na.n2 AS DOUBLE)), 1.0)
                  * greatest(sqrt(CAST(nb.n2 AS DOUBLE)), 1.0))) AS ms
  FROM pd JOIN n2v na ON na.id = pd.id_i
          JOIN n2v nb ON nb.id = pd.id_e
  GROUP BY pd.id_i
)
SELECT r.id, CAST(r.cluster AS INT) AS cluster,
       coalesce(ps.ms, -1.0) AS max_prior_sim,
       coalesce(ps.ms, -1.0) >= {eps!r} AS is_dup
FROM ranked r LEFT JOIN ps ON ps.id = r.id
ORDER BY r.id"""


def chunk_documents_sql(chunk_chars: int = 128, overlap: int = 32) -> str:
    """Mirror of ops/text.py::chunk_documents: starts every
    (chunk_chars - overlap) chars, [start, end) offsets, last chunk
    short, empty docs dropped."""
    step = chunk_chars - overlap
    return f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         coalesce(text, '') AS t,
         CAST(length(coalesce(text, '')) AS BIGINT) AS n
  FROM documents
),
s AS (
  SELECT doc_id, t, n, CAST(u.st AS BIGINT) AS start,
         row_number() OVER (PARTITION BY doc_id ORDER BY u.st) - 1 AS chunk_id
  FROM d, UNNEST(range(0, n, {step})) AS u(st)
  WHERE n > 0
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       start,
       least(start + {chunk_chars}, n) AS "end",
       substring(t, CAST(start + 1 AS INT), {chunk_chars}) AS chunk_text
FROM s ORDER BY doc_id, chunk_id"""


def cluster_sample_sql(n_per_cluster: int = 10, n_centroids: int = 8) -> str:
    """Mirror of ops/similarity.py::cluster_quota_sample: per-cluster
    quota picked by the (md5(id), id) hash order."""
    return f"""
WITH {_QFLAT},
{_ivf_cluster_chain(n_centroids)},
picked AS (
  SELECT a1.id, a1.cluster,
         row_number() OVER (
           PARTITION BY a1.cluster
           ORDER BY CAST('0x' || substring(md5(CAST(a1.id AS VARCHAR)), 1, 15) AS BIGINT),
                    a1.id
         ) AS pick_rank
  FROM a1
)
SELECT id, CAST(cluster AS INT) AS cluster, CAST(pick_rank AS BIGINT) AS pick_rank
FROM picked WHERE pick_rank <= {n_per_cluster}
ORDER BY cluster, pick_rank"""


def embedding_contamination_sql(
    threshold: float = 0.42, bench_max_id: int = 20,
) -> str:
    """Mirror of ops/similarity.py::embedding_contamination with the
    driver split: benchmark = ids < bench_max_id, corpus = the rest."""
    return f"""
WITH {_QFLAT},
n2 AS (SELECT id, CAST(sum(v * v) AS BIGINT) AS n2 FROM flat GROUP BY id),
corp AS (SELECT id FROM q WHERE id >= {bench_max_id}),
pd AS (
  SELECT fa.id, fb.id AS bid, CAST(sum(fa.v * fb.v) AS BIGINT) AS dot
  FROM flat fa JOIN flat fb ON fb.k = fa.k AND fb.id < {bench_max_id}
  WHERE fa.id >= {bench_max_id}
  GROUP BY fa.id, fb.id
),
sims AS (
  SELECT pd.id, pd.bid,
         CAST(pd.dot AS DOUBLE)
           / (greatest(sqrt(CAST(na.n2 AS DOUBLE)), 1.0)
              * greatest(sqrt(CAST(nb.n2 AS DOUBLE)), 1.0)) AS sim
  FROM pd JOIN n2 na ON na.id = pd.id JOIN n2 nb ON nb.id = pd.bid
),
best AS (
  SELECT id, bid, sim FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY sim DESC, bid ASC) AS rn
    FROM sims
  ) WHERE rn = 1
)
SELECT c.id, coalesce(b.sim, -1.0) AS max_bench_sim, b.bid AS bench_id,
       coalesce(b.sim, -1.0) >= {threshold!r} AS contaminated
FROM corp c LEFT JOIN best b ON b.id = c.id
ORDER BY c.id"""


def gopher_rules_sql(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> str:
    """Mirror of ops/text.py::gopher_rules (same pinned word/line
    splits, same 0.0-when-empty ratios)."""
    return f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS id, {_T} AS t FROM documents
),
w AS (
  SELECT id, t,
         list_filter(string_split_regex(trim(t), '\\s+'), x -> x <> '') AS words,
         string_split(t, chr(10)) AS lines,
         regexp_extract_all(lower(t), '{_RE}') AS toks
  FROM d
),
m AS (
  SELECT id,
    CAST(len(words) AS BIGINT) AS word_count,
    CAST(coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS BIGINT) AS sum_len,
    CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
    CAST((length(t) - length(replace(t, '#', '')))
       + (length(t) - length(replace(t, '…', '')))
       + (length(t) - length(replace(t, '...', ''))) / 3 AS BIGINT) AS n_sym,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(list_filter(lines, l ->
      starts_with(trim(l), '-') OR starts_with(trim(l), '*')
      OR starts_with(trim(l), '•'))) AS BIGINT) AS n_bullet,
    CAST(len(list_filter(lines, l ->
      ends_with(trim(l), '...') OR ends_with(trim(l), '…'))) AS BIGINT) AS n_ellipsis,
    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
      s -> list_contains(toks, s))) AS BIGINT) AS stop_hits
  FROM w
),
r AS (
  SELECT id, word_count,
    CASE WHEN word_count > 0
         THEN CAST(sum_len AS DOUBLE) / CAST(word_count AS DOUBLE) ELSE 0.0 END
      AS mean_word_len,
    CASE WHEN word_count > 0
         THEN CAST(n_sym AS DOUBLE) / CAST(word_count AS DOUBLE) ELSE 0.0 END
      AS symbol_ratio,
    CASE WHEN n_lines > 0
         THEN CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0 END
      AS bullet_frac,
    CASE WHEN n_lines > 0
         THEN CAST(n_ellipsis AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0 END
      AS ellipsis_frac,
    CASE WHEN word_count > 0
         THEN CAST(n_alpha AS DOUBLE) / CAST(word_count AS DOUBLE) ELSE 0.0 END
      AS alpha_frac,
    stop_hits
  FROM m
)
SELECT id, word_count, mean_word_len, symbol_ratio, bullet_frac,
       ellipsis_frac, alpha_frac, stop_hits,
       (word_count >= {min_words} AND word_count <= {max_words}
        AND mean_word_len >= {min_mean_word_len!r}
        AND mean_word_len <= {max_mean_word_len!r}
        AND symbol_ratio <= {max_symbol_ratio!r}
        AND bullet_frac <= {max_bullet_frac!r}
        AND ellipsis_frac <= {max_ellipsis_frac!r}
        AND alpha_frac >= {min_alpha_frac!r}
        AND stop_hits >= {min_stop_hits}) AS "pass"
FROM r ORDER BY id"""


def c4_filters_sql(min_sentences: int = 3, min_line_words: int = 5) -> str:
    """Mirror of ops/text.py::c4_filters (same line-keep predicate,
    terminal-punct sentence count, brace/lorem flags)."""
    return f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS id, {_T} AS t FROM documents
),
w AS (
  SELECT id, t, string_split(t, chr(10)) AS lines FROM d
),
k AS (
  SELECT id, t, lines,
         list_filter(lines, l ->
           (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
            OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
           AND len(list_filter(string_split_regex(trim(l), '\\s+'), x -> x <> ''))
               >= {min_line_words}) AS kept
  FROM w
),
c AS (
  SELECT id, t, lines, kept,
         coalesce(array_to_string(kept, chr(10)), '') AS cleaned FROM k
),
m AS (
  SELECT id,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(kept) AS BIGINT) AS n_kept_lines,
    CAST((length(cleaned) - length(replace(cleaned, '.', '')))
       + (length(cleaned) - length(replace(cleaned, '!', '')))
       + (length(cleaned) - length(replace(cleaned, '?', ''))) AS BIGINT)
      AS n_sentences,
    contains(t, '{{') AS has_brace,
    contains(lower(t), 'lorem ipsum') AS has_lorem,
    cleaned AS cleaned_text
  FROM c
)
SELECT id, n_lines, n_kept_lines, n_sentences, has_brace, has_lorem,
       cleaned_text,
       (n_sentences >= {min_sentences} AND NOT has_brace AND NOT has_lorem)
         AS "pass"
FROM m ORDER BY id"""


def top_ngram_stats_sql(ns: tuple[int, ...] = (2, 3, 4)) -> str:
    """Mirror of ops/text.py::top_ngram_stats: per (doc, n) the most
    frequent word n-gram (ties count desc, gram asc) and its char
    coverage fraction."""
    branches = []
    for n in ns:
        branches.append(f"""
SELECT id, n_chars, {int(n)} AS n, g.gram AS gram, count(*) AS cnt
FROM base, UNNEST({_grams_expr(int(n))}) AS g(gram)
GROUP BY id, n_chars, n, g.gram""")
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH {_TOKS},
base AS (
  SELECT t.id, t.toks, CAST(length({_T}) AS BIGINT) AS n_chars
  FROM toks t JOIN documents d ON CAST(d.doc_id AS BIGINT) = t.id
),
counts AS ({union}),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY id, n ORDER BY cnt DESC, gram ASC
  ) AS rn
  FROM counts
)
SELECT id, CAST(n AS INT) AS n, gram AS top_gram,
       CAST(cnt AS BIGINT) AS top_count,
       CASE WHEN n_chars > 0
            THEN CAST(cnt * length(gram) AS DOUBLE) / CAST(n_chars AS DOUBLE)
            ELSE 0.0 END AS char_frac
FROM ranked WHERE rn = 1
ORDER BY id, n"""
