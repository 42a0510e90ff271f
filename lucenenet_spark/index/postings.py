"""The posting codec: the one module that knows the packed block
format, for writing as well as reading (the ``Lucene41PostingsWriter`` +
``DocsAndPositionsEnum`` pair; the reference's flush and
``SegmentMerger`` write through the same writer).

A term's postings are cut into docid buckets (``BUCKET_DOCS`` docs
each) and, within a bucket, into blocks of at most ``BLOCK_SIZE`` docs.
One block is one row of ``PACKED_SCHEMA``: the block metadata (bucket,
first/last docid, count, max/sum freq, min/max norm byte — the skip
data that block-max pruning and docid pruning read) and the
delta+varbyte docids, varbyte freqs, raw norm bytes, the prox stream
and, for a payload index, the float32 payload per position.

Encode:

- :func:`pack_blocks` — the one block packer. The build's segment
  flush and :func:`repack_postings` (compaction, split straddlers)
  both call it, so a rewritten block is byte-identical to a built one,
  payloads included.

Decode, each reading the packed table AFTER a ``term IN (...)`` filter
(:func:`read_blocks`) so parquet pushdown + row-group min/max pruning
(the BlockTree dictionary seek analog) bound the scan to the query's
posting lists:

- :func:`score_blocks` — the term-family reader: docs, freqs and norms
  decoded and scored per clause of a ``{term: [(cidx, kind, weight)]}``
  plan in one ``mapInPandas``, or docids only with each clause's
  constant weight. Term, boolean, dismax, the constant-score multi-term
  rewrite and FuzzyLikeThis all read through it.
- :func:`read_postings` — the flat per-(docid, term) view with
  positions, the norm byte and optionally payloads
  (``InvertedIndex.postings``), pruned to named terms and docids on
  block metadata before the decode.
- :func:`positional_groups` + :func:`bucket_positions` — the bucketed
  positional kernel that the phrase, multi-phrase, span and payload
  scorers share: one packed scan, one narrow shuffle of the
  still-compressed blocks keyed by the docid-disjoint bucket, then per
  bucket a docid decode, a per-slot candidate conjunction and a
  candidate-gated position gather. Callers keep only their own matcher.

Plan regime: a query whose posting lists are small
(:func:`single_partition`, decided on the driver from the term stats)
reads its blocks as ONE partition, so Catalyst plans every downstream
docid aggregate and bucket group without an exchange — one job of one
task, the reference ``IndexSearcher`` searching on the calling thread.
A larger query keeps the parallel plan. Deleted docs leave every result
through one anti-join, :func:`drop_deleted` (the ``liveDocs`` bits the
reference hands each ``DocsEnum``).
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import repeat

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.group import GroupedData

from lucenenet_spark.functions.varbyte import (
    BLOCK_SIZE,
    decode_freqs,
    decode_positions_flat,
    delta_decode_docids,
    docid_deltas,
    gather_ranges,
    position_stream,
    vbyte_encode_concat,
)

# docid-range bucket width for posting packing; a multiple of
# BLOCK_SIZE so blocks never straddle buckets. 64 blocks per bucket.
BUCKET_DOCS = BLOCK_SIZE * 64

# position keys are (bucket-local docid << KEY_SHIFT) + position: the
# local docid is < BUCKET_DOCS = 2^13 and positions are int32, so a key
# never overflows int64 at any corpus size
KEY_SHIFT = np.int64(32)

# the largest query, in estimated posting blocks (estimated_blocks),
# that runs as ONE partition. Measured at local[4] on the bench.py sf0.1
# warehouse (200k docs, 25 buckets; BENCH.md "One job for a small
# query"), min of 7 per regime: one task beat the parallel plan up to
# ~2k blocks for term and disjunction reads, but positional reads
# decode ~3x more per block and crossed over between 511 blocks (one
# task 17% faster) and 1002 blocks (7% slower). 512 keeps every query
# of either family on the faster side; the head-term and
# head-disjunction legs (1525 and 2671 blocks) keep the parallel plan.
# Every query of the 2k-doc perfbench corpus (<= 48 blocks) is small.
SINGLE_PARTITION_MAX_BLOCKS = 512

PACKED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("bucket", T.LongType()),
        # first_docid - bucket*BUCKET_DOCS: unique per (term, bucket)
        # even when two build partitions contribute blocks to the same
        # bucket (docid sets are disjoint across partitions)
        T.StructField("block_id", T.IntegerType()),
        T.StructField("first_docid", T.LongType()),
        T.StructField("last_docid", T.LongType()),
        T.StructField("count", T.IntegerType()),
        T.StructField("max_freq", T.IntegerType()),
        T.StructField("sum_freq", T.LongType()),  # block ttf partial
        T.StructField("max_norm", T.IntegerType()),
        T.StructField("min_norm", T.IntegerType()),
        T.StructField("docs_enc", T.BinaryType()),
        T.StructField("freqs_enc", T.BinaryType()),
        T.StructField("norms_enc", T.BinaryType()),
        T.StructField("positions_enc", T.BinaryType()),
        # float32 payload per position, positions order; NULL when the
        # block stores no payloads (DOCS_AND_FREQS_AND_POSITIONS vs
        # ..._AND_PAYLOADS, FieldInfo.cs:355)
        T.StructField("payloads_enc", T.BinaryType()),
    ]
)

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("docid", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("freq", T.IntegerType()),
        T.StructField("positions", T.ArrayType(T.IntegerType())),
        T.StructField("norm", T.IntegerType()),
    ]
)
POSTINGS_PAYLOAD_SCHEMA = T.StructType(
    POSTINGS_SCHEMA.fields
    + [T.StructField("payloads", T.ArrayType(T.FloatType()))]
)


def estimated_blocks(stats) -> int:
    """The posting blocks a query reads, estimated on the driver as
    Σ⌈df/BLOCK_SIZE⌉ over ``stats`` (``{term: (df, ttf)}``, the
    searcher's term stats). A term whose postings span several segments
    or buckets has a few partial blocks more."""
    return sum(-(-int(df) // BLOCK_SIZE) for df, _ in stats.values())


def single_partition(stats) -> bool:
    """True when a query of these term stats is small enough to read
    as one partition (``SINGLE_PARTITION_MAX_BLOCKS``)."""
    return estimated_blocks(stats) <= SINGLE_PARTITION_MAX_BLOCKS


def read_blocks(packed: DataFrame, terms, single: bool = False) -> DataFrame:
    """The packed blocks of ``terms``: the ``term IN`` filter is pushed
    to the parquet scan, and ``single=True`` coalesces the scan to ONE
    partition. Catalyst then sees ``SinglePartition`` and drops every
    exchange above it (docid groupBy, distinct, bucket grouping)."""
    blocks = packed.where(F.col("term").isin(sorted(set(terms))))
    return blocks.coalesce(1) if single else blocks


def drop_deleted(df: DataFrame, tombstones: DataFrame | None) -> DataFrame:
    """``df`` without the docids of ``tombstones`` (None: no deletes).
    A ``left_anti`` result does not depend on duplicates on its right
    side, so the tombstone table joins as it is, without a ``distinct``
    shuffle in front of the broadcast."""
    if tombstones is None:
        return df
    return df.join(tombstones.select("docid"), "docid", "left_anti")


# ------------------------------------------------------------ encoder

def _payload_bytes(payloads, freqs) -> bytes | None:
    """One block's ``payloads_enc``; a doc without payloads (None) pads
    1.0 per position, and a block of only such docs stores None."""
    if all(y is None for y in payloads):
        return None
    return np.concatenate(
        [
            np.ones(int(c), dtype=np.float32) if y is None
            else np.asarray(y, dtype=np.float32)
            for y, c in zip(payloads, freqs)
        ]
    ).tobytes()


def pack_blocks(postings) -> pd.DataFrame:
    """The block packer: ``postings`` yields ``(term, docids, freqs,
    norms, positions, payloads)`` per term — docids in any order,
    positions and payloads one sequence per doc, ``payloads`` None for
    a term stored without them. Returns the blocks as a
    ``PACKED_SCHEMA`` frame: the term's sorted docids cut into bucket
    runs, each run into ≤``BLOCK_SIZE``-doc blocks.

    The raw docid, freq and prox streams of every block are encoded in
    ONE vbyte pass at the end (``vbyte_encode_concat``): wire-identical
    to a per-block encode, but the per-call fixed cost across tens of
    thousands of small blocks was a measurable slice of the sf1 build."""
    cols: dict[str, list] = {f.name: [] for f in PACKED_SCHEMA.fields}
    doc_streams: list[np.ndarray] = []
    freq_streams: list[np.ndarray] = []
    pos_streams: list[np.ndarray] = []
    for term, dl, fl, nl, p, y in postings:
        d = np.asarray(dl, dtype=np.int64)
        f = np.asarray(fl, dtype=np.int64)
        n = np.asarray(nl, dtype=np.int64)
        if d.size > 1 and not np.all(np.diff(d) > 0):
            order = np.argsort(d, kind="stable")
            d, f, n = d[order], f[order], n[order]
            p = [p[j] for j in order]
            if y is not None:
                y = [y[j] for j in order]
        buckets = d // BUCKET_DOCS
        # bucket-run starts, then ≤128-doc blocks within each run
        run_starts = np.concatenate(
            ([0], np.flatnonzero(np.diff(buckets)) + 1, [d.size])
        )
        for r in range(len(run_starts) - 1):
            r0, r1 = int(run_starts[r]), int(run_starts[r + 1])
            bucket = int(buckets[r0])
            for b0 in range(r0, r1, BLOCK_SIZE):
                b1 = min(b0 + BLOCK_SIZE, r1)
                db, fb, nb = d[b0:b1], f[b0:b1], n[b0:b1]
                cols["term"].append(term)
                cols["bucket"].append(bucket)
                cols["block_id"].append(int(db[0] - bucket * BUCKET_DOCS))
                cols["first_docid"].append(int(db[0]))
                cols["last_docid"].append(int(db[-1]))
                cols["count"].append(int(db.size))
                cols["max_freq"].append(int(fb.max()))
                cols["sum_freq"].append(int(fb.sum()))
                cols["max_norm"].append(int(nb.max()))
                # norm of the doc(s) attaining max_freq can be anywhere
                # in [min_norm, max_norm]; min_norm feeds the certified
                # lower bound for rank-safe pruning
                cols["min_norm"].append(int(nb.min()))
                doc_streams.append(docid_deltas(db))
                freq_streams.append(fb.astype(np.uint64))
                cols["norms_enc"].append(nb.astype(np.uint8).tobytes())
                pos_streams.append(position_stream(p[b0:b1]))
                cols["payloads_enc"].append(
                    None if y is None else _payload_bytes(y[b0:b1], fb)
                )
    cols["docs_enc"] = vbyte_encode_concat(doc_streams)
    cols["freqs_enc"] = vbyte_encode_concat(freq_streams)
    cols["positions_enc"] = vbyte_encode_concat(pos_streams)
    return pd.DataFrame(cols)


def repack_postings(flat: DataFrame) -> DataFrame:
    """Flat (docid, term, freq, positions, norm[, payloads]) rows ->
    packed blocks through :func:`pack_blocks`, one ``applyInPandas``
    group per docid bucket (at most ``BUCKET_DOCS`` docs' postings
    whatever the term skew); a null ``payloads`` cell is a doc stored
    without payloads. Compaction and the splitter rewrite here."""
    with_pay = "payloads" in flat.columns

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["term", "docid"])
        terms = pdf["term"].to_numpy()
        bounds = np.concatenate(
            ([0], np.flatnonzero(terms[1:] != terms[:-1]) + 1, [len(pdf)])
        )
        d = pdf["docid"].to_numpy(dtype=np.int64)
        f = pdf["freq"].to_numpy(dtype=np.int64)
        n = pdf["norm"].to_numpy(dtype=np.int64)
        pos = pdf["positions"].to_numpy()
        pay = pdf["payloads"].to_numpy() if with_pay else None
        return pack_blocks(
            (terms[a], d[a:b], f[a:b], n[a:b], pos[a:b],
             None if pay is None else pay[a:b])
            for a, b in zip(bounds[:-1], bounds[1:])
        )

    return (
        flat.selectExpr("*", f"docid DIV {BUCKET_DOCS} AS bucket")
        .groupBy("bucket")
        .applyInPandas(pack, schema=PACKED_SCHEMA)
    )


# ------------------------------------------------- term-family reader

TERM_SCORES_SCHEMA = T.StructType(
    [
        T.StructField("docid", T.LongType()),
        T.StructField("cidx", T.IntegerType()),
        T.StructField("kind", T.IntegerType()),
        T.StructField("score", T.FloatType()),
    ]
)


def score_batch(pdf: pd.DataFrame, plan, sim) -> pd.DataFrame:
    """One Arrow batch of blocks (``term``, ``docs_enc`` and, with a
    similarity, ``freqs_enc`` + ``norms_enc``) as (docid, cidx, kind,
    score) rows: every block fans out once per clause of ``plan[term]``
    (``[(cidx, kind, weight)]``). With ``sim`` a clause scores
    ``sim.score(freq, norm, f32(weight))``; with ``sim=None`` only the
    docids are decoded and every row scores its clause's constant
    ``weight``. numpy accumulates per block and the batch becomes ONE
    pandas frame: a per-block ``pd.DataFrame`` costs ~50 µs of
    constructor overhead, and a head term at sf1 spans ~15k blocks."""
    ds, ss, clauses, lens = [], [], [], []
    scored = sim is not None
    fe_col = pdf["freqs_enc"] if scored else repeat(None)
    ne_col = pdf["norms_enc"] if scored else repeat(None)
    for term, de, fe, ne in zip(pdf["term"], pdf["docs_enc"], fe_col, ne_col):
        d = delta_decode_docids(bytes(de))
        if scored:
            f = decode_freqs(bytes(fe)).astype(np.float32)
            n = np.frombuffer(bytes(ne), dtype=np.uint8)
        for cidx, kind, w in plan[term]:
            ds.append(d)
            clauses.append((cidx, kind, w))
            lens.append(d.size)
            if scored:
                ss.append(sim.score(f, n, np.float32(w)))
    if not ds:
        return pd.DataFrame(
            {"docid": pd.array([], dtype="int64"),
             "cidx": pd.array([], dtype="int32"),
             "kind": pd.array([], dtype="int32"),
             "score": pd.array([], dtype="float32")}
        )
    cidx, kind, w = (np.array(c) for c in zip(*clauses))
    return pd.DataFrame(
        {"docid": np.concatenate(ds),
         "cidx": np.repeat(cidx.astype(np.int32), lens),
         "kind": np.repeat(kind.astype(np.int32), lens),
         "score": np.concatenate(ss) if scored
         else np.repeat(w.astype(np.float32), lens)}
    )


def score_blocks(blocks: DataFrame, plan, sim) -> DataFrame:
    """(docid, cidx, kind, score) for every clause of ``plan`` over
    ``blocks`` (the packed blocks of the plan's terms, from
    :func:`read_blocks` or a pruned subset of them), in ONE
    ``mapInPandas`` of :func:`score_batch`. ``plan`` maps each term to
    ``[(cidx, kind, weight)]``: kind 1=MUST, 0=SHOULD, -1=MUST_NOT.
    One scan serves every term clause of a query, the distributed analog
    of BooleanScorer's single pass over its subscorers
    (``Search/BooleanScorer.cs``); a term query is a one-clause plan.
    ``sim=None`` reads only ``docs_enc`` (constant-score and
    FuzzyLikeThis clauses); otherwise the blocks are projected to the
    docs, freqs and norms columns, so parquet column pruning skips the
    positions (the widest column) entirely."""
    plan = {t: [(int(c), int(k), float(w)) for c, k, w in v] for t, v in plan.items()}
    cols = ["term", "docs_enc"]
    if sim is not None:
        cols += ["freqs_enc", "norms_enc"]
    return blocks.selectExpr(*cols).mapInPandas(
        lambda it: (score_batch(pdf, plan, sim) for pdf in it),
        schema=TERM_SCORES_SCHEMA,
    )


def read_postings(
    packed: DataFrame, terms=None, docids=None, payloads: bool = False
) -> DataFrame:
    """``InvertedIndex.postings``: blocks are pruned on their metadata
    BEFORE the decode — ``term IN`` (:func:`read_blocks`) and, with
    ``docids``, the docids' buckets and ``[first_docid, last_docid]``
    ranges, all pushed to the parquet scan — and only the named
    docids' rows are kept after it."""
    blocks = packed if terms is None else read_blocks(packed, terms)
    if docids is None:
        return _unpack(blocks, payloads)
    ids = sorted({int(d) for d in docids})
    if not ids:
        return _unpack(blocks.where("false"), payloads)
    buckets = ", ".join(str(b) for b in sorted({d // BUCKET_DOCS for d in ids}))
    ranges = " OR ".join(f"(first_docid <= {d} AND last_docid >= {d})" for d in ids)
    listed = ", ".join(map(str, ids))
    return _unpack(
        blocks.where(f"bucket IN ({buckets}) AND ({ranges})"), payloads
    ).where(f"docid IN ({listed})")


def _unpack(packed: DataFrame, payloads: bool = False, fill: bool = True) -> DataFrame:
    """Decode ``packed`` blocks, pruned by the caller (a filter above
    this ``mapInPandas`` would not reach the parquet scan), to flat
    per-(docid, term) rows with positions and the norm byte, plus the
    float32 ``payloads`` per position when ``payloads=True``: 1.0 each
    for a block stored without them with ``fill``, else a null cell.

    Memory: each row's ``positions`` (and ``payloads``) array is a
    ``np.split`` VIEW into its block's one decoded buffer, so a view
    pins the whole block's positions. The views live only until the
    batch is yielded: the Arrow conversion materializes every array
    into the batch's own list buffers, and the decoded blocks are
    freed with the pandas frame, so no copy is made per doc.
    """
    cols = ["term", "docs_enc", "freqs_enc", "norms_enc", "positions_enc"]
    if payloads:
        cols.append("payloads_enc")

    def unpack(iterator):
        for pdf in iterator:
            frames = []
            for row in zip(*(pdf[c] for c in cols)):
                term, de, fe, ne, pe = row[:5]
                f = decode_freqs(bytes(fe)).astype(np.int64)
                # freqs are the per-doc position counts: one flat
                # vectorized prox decode, then cheap split views
                flat, _ = decode_positions_flat(bytes(pe), f)
                splits = np.cumsum(f)[:-1]
                out = {
                    "docid": delta_decode_docids(bytes(de)),
                    "term": term,
                    "freq": f.astype(np.int32),
                    "positions": np.split(flat.astype(np.int32), splits),
                    "norm": np.frombuffer(bytes(ne), dtype=np.uint8).astype(np.int32),
                }
                if payloads:
                    out["payloads"] = (
                        ([np.ones(int(c), dtype=np.float32) for c in f]
                         if fill else [None] * f.size)
                        if row[5] is None
                        else np.split(
                            np.frombuffer(bytes(row[5]), dtype=np.float32).copy(), splits
                        )
                    )
                frames.append(pd.DataFrame(out))
            if frames:
                yield pd.concat(frames)

    schema = POSTINGS_PAYLOAD_SCHEMA if payloads else POSTINGS_SCHEMA
    return packed.select(*cols).mapInPandas(unpack, schema=schema)


# ------------------------------------------------ bucketed positional kernel

def positional_groups(
    packed: DataFrame, terms, max_doc: int, payloads: bool = False,
    single: bool = False,
) -> GroupedData:
    """The blocks of ``terms`` grouped by bucket, for one
    ``applyInPandas`` whose function calls :func:`bucket_positions`.
    ``payloads=True`` also selects ``payloads_enc``, for the payload
    scorers only; the phrase and span scorers never read it.

    ONE packed scan (parquet term-IN pushdown). Buckets are
    docid-DISJOINT by construction, so every positional match is
    certified inside one group, and a group holds at most |terms| × 64
    blocks — no skew at any corpus size. Two regimes, chosen by the
    caller from the query's term stats (:func:`single_partition`):

    - ``single=True`` (a small query): the scan is coalesced to one
      partition and grouped in place — no exchange, one task.
    - ``single=False``: ONE narrow shuffle of the still-compressed
      blocks, ``repartition(n, "bucket")``; parallelism = number of
      buckets. AQE never coalesces that exchange, so ``n`` is sized
      from the bucket count of ``max_doc`` (the index's doc count): 4
      partitions per bucket as headroom against hash collisions, capped
      at the prime 199 (reached at 50 buckets). A 1-bucket index runs 4
      reduce tasks, not 199. Catalyst reuses this hash partitioning for
      the groupBy, so it is still ONE shuffle."""
    cols = ["term", "bucket", "block_id", "docs_enc", "freqs_enc", "norms_enc",
            "positions_enc"]
    if payloads:
        cols.append("payloads_enc")
    blocks = read_blocks(packed, terms, single).select(*cols)
    if single:
        return blocks.groupBy("bucket")
    buckets = max(1, -(-int(max_doc) // BUCKET_DOCS))
    return blocks.repartition(min(199, 4 * buckets), "bucket").groupBy("bucket")


@dataclass
class BucketPositions:
    """One bucket's candidate docs and their positions.

    ``cand``: sorted bucket-LOCAL candidate docids (add ``base`` back
    on output); ``norms``: the norm byte per candidate; ``keys``: per
    term, the sorted position keys ``(local docid << KEY_SHIFT) +
    position`` of the candidates only — docs stay apart in the high
    bits, so one numpy set op covers every candidate of the bucket.
    ``payloads``: per term, the float32 payload of each key, in key
    order — only when the group carries ``payloads_enc``, else None."""

    base: int
    cand: np.ndarray
    norms: np.ndarray
    keys: dict[str, np.ndarray]
    payloads: dict[str, np.ndarray] | None = None


def bucket_positions(pdf: pd.DataFrame, slots) -> BucketPositions | None:
    """Decode one bucket group: docids of every block, the candidate
    conjunction (a doc must hold >= 1 term of EVERY slot in ``slots``),
    then norms and positions ONLY for blocks holding a candidate — the
    skip-list block skipping of ``ExactPhraseScorer``/``NearSpans``.
    A group with a ``payloads_enc`` column (``positional_groups(...,
    payloads=True)``) also gathers each key's float32 payload; a block
    stored without payloads yields 1.0 per position, as
    :func:`read_postings` does. Returns None when no doc survives the
    conjunction."""
    base = int(pdf["bucket"].iat[0]) * BUCKET_DOCS
    pdf = pdf.sort_values(["term", "block_id"])
    with_pay = "payloads_enc" in pdf.columns
    pay_col = pdf["payloads_enc"] if with_pay else repeat(None)
    # docid-only decode first (cheap); positions stay encoded
    term_blocks: dict[str, list] = {}
    for term, de, fe, ne, pe, ye in zip(
        pdf["term"], pdf["docs_enc"], pdf["freqs_enc"],
        pdf["norms_enc"], pdf["positions_enc"], pay_col,
    ):
        term_blocks.setdefault(term, []).append(
            (delta_decode_docids(bytes(de)) - base, fe, ne, pe, ye)
        )
    cand = None
    for slot in slots:
        arrs = [b[0] for t in slot if t in term_blocks for b in term_blocks[t]]
        if not arrs:
            return None
        sd = arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
        cand = sd if cand is None else np.intersect1d(cand, sd, assume_unique=True)
        if cand.size == 0:
            return None
    norms = np.zeros(cand.size, dtype=np.uint8)
    gathered: dict[str, list] = {}
    gathered_pay: dict[str, list] = {}
    for term, blks in term_blocks.items():
        for d, fe, ne, pe, ye in blks:
            lo = np.searchsorted(cand, d[0])
            hi = np.searchsorted(cand, d[-1], side="right")
            if lo == hi:
                continue  # no candidate in this block: skip decode
            sub = cand[lo:hi]
            idx = np.searchsorted(d, sub)
            hit = d[idx] == sub
            if not hit.any():
                continue
            # freqs ARE the per-doc position counts: flat vectorized
            # prox decode + multi-range gather, no per-doc numpy calls
            f = decode_freqs(bytes(fe)).astype(np.int64)
            flat, starts = decode_positions_flat(bytes(pe), f)
            ci = np.flatnonzero(hit) + lo
            bi = idx[hit]
            norms[ci] = np.frombuffer(bytes(ne), dtype=np.uint8)[bi]
            lens = f[bi]
            gathered.setdefault(term, []).append(
                np.repeat(cand[ci] << KEY_SHIFT, lens)
                + gather_ranges(flat, starts[bi], lens)
            )
            if with_pay:
                pay = (
                    np.ones(flat.size, dtype=np.float32)
                    if ye is None
                    else np.frombuffer(bytes(ye), dtype=np.float32)
                )
                gathered_pay.setdefault(term, []).append(
                    gather_ranges(pay, starts[bi], lens)
                )
    # blocks of one (term, bucket) from DIFFERENT segments interleave
    # docid ranges (a segment owns several hash-placed docid ranges),
    # so a multi-block concatenation must be sorted
    if not with_pay:
        keys = {
            t: a[0] if len(a) == 1 else np.sort(np.concatenate(a))
            for t, a in gathered.items()
        }
        return BucketPositions(base, cand, norms, keys)
    keys, pays = {}, {}
    for t, a in gathered.items():
        k, p = np.concatenate(a), np.concatenate(gathered_pay[t])
        order = np.argsort(k, kind="stable")
        keys[t], pays[t] = k[order], p[order]
    return BucketPositions(base, cand, norms, keys, pays)
