"""The posting reader: every decode of the packed posting blocks goes
through this module (the ``DocsAndPositionsEnum`` role).

Two shapes, both reading the packed table AFTER a ``term IN (...)``
filter (:func:`read_blocks`) so parquet pushdown + row-group min/max
pruning (the BlockTree dictionary seek analog) bound the scan to the
query's posting lists:

- :func:`unpack_postings` — a flat per-(docid, term) view with
  positions, the norm byte and optionally payloads, for collectors and
  maintenance jobs.
- :func:`positional_groups` + :func:`bucket_positions` — the bucketed
  positional kernel that the phrase, multi-phrase and span scorers
  share: one packed scan, one narrow shuffle of the still-compressed
  blocks keyed by the docid-disjoint bucket, then per bucket a docid
  decode, a per-slot candidate conjunction and a candidate-gated
  position gather. Callers keep only their own matcher.

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
    gather_ranges,
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


def unpack_postings(packed: DataFrame, payloads: bool = False) -> DataFrame:
    """Flat view over packed blocks: decode delta+varbyte back to
    per-(docid, term) rows with positions and the norm byte, plus the
    per-position float32 ``payloads`` when ``payloads=True`` (blocks
    written without payloads yield 1.0 per position, the scorers'
    default for a missing payload).

    WARNING — the mapInPandas here is an optimization BARRIER: a filter
    placed ABOVE this view does NOT push down into the packed parquet
    scan, so ``unpack_postings(packed).where(term == t)`` decodes the
    ENTIRE index and then drops most of it. Filter the packed frame
    first — ``unpack_postings(packed.where(F.col("term").isin(terms)))``
    — or use ``InvertedIndex.postings(terms)``, which does exactly that.

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
                        [np.ones(int(c), dtype=np.float32) for c in f]
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
    :func:`unpack_postings` does. Returns None when no doc survives the
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
