"""Index splitting — MultiPassIndexSplitter's sequential mode
(reference ``Lucene.Net.Misc/Index/MultiPassIndexSplitter.cs:38``: split
an index into N parts, ``-seq`` = contiguous docid ranges; the
reference re-reads the whole index once per output part, masking
deletions — N full passes).

Here a split costs almost nothing: every packed block is contained in
one docid bucket and carries (first_docid, last_docid) metadata, so

- blocks fully inside a part are claimed by a pure METADATA filter
  (no decode, no shuffle), and
- only blocks STRADDLING a boundary — at most one block per (term,
  boundary), bounded by vocabulary size, microscopic against the
  index — are decoded, range-filtered and repacked.

Per-part ``term_stats`` re-aggregate from block metadata (sum(count),
sum(sum_freq)) exactly like the build path. At 100 TB a split is N
filtered writes of one scan plus a vocabulary-bounded repack, not N
decode passes.

Docids are NOT renumbered (the reference's FakeDeleteIndexReader keeps
original docids too) — each part is a fully queryable InvertedIndex
whose scores use the part's own collection statistics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lucenenet_spark.index.builder import InvertedIndex
from lucenenet_spark.index.postings import _unpack, repack_postings


def split_index(index: InvertedIndex, n_parts: int) -> list[InvertedIndex]:
    """Split into ``n_parts`` contiguous docid ranges
    [round(i*max_doc/n), round((i+1)*max_doc/n)). Returns fully
    queryable parts. Straddler blocks repack through the build's own
    block packer, payloads included."""
    if n_parts < 1:
        raise ValueError("n_parts must be >= 1")
    max_doc = index.max_doc
    bounds = [round(i * max_doc / n_parts) for i in range(n_parts + 1)]
    parts: list[InvertedIndex] = []
    for lo, hi in zip(bounds, bounds[1:]):
        docs = index.docs.where((F.col("docid") >= lo) & (F.col("docid") < hi))
        contained = index.packed.where(
            (F.col("first_docid") >= lo) & (F.col("last_docid") < hi)
        )
        straddlers = index.packed.where(
            ((F.col("first_docid") < lo) & (F.col("last_docid") >= lo))
            | ((F.col("first_docid") < hi) & (F.col("last_docid") >= hi))
        )
        repacked = repack_postings(
            _unpack(straddlers, payloads=True, fill=False).where(
                (F.col("docid") >= lo) & (F.col("docid") < hi)
            )
        )
        packed = contained.unionByName(repacked)
        term_stats = packed.groupBy("term").agg(
            F.sum("count").cast("long").alias("df"),
            F.sum("sum_freq").cast("long").alias("ttf"),
        )
        agg = docs.agg(
            F.count("*").alias("n"), F.sum("field_length").alias("sttf")
        ).first()
        parts.append(
            InvertedIndex(
                docs=docs,
                packed=packed,
                term_stats=term_stats,
                max_doc=int(agg["n"] or 0),
                sum_total_term_freq=int(agg["sttf"] or 0),
                spec=index.spec,
            )
        )
    return parts


def pk_split(index: InvertedIndex, predicate):
    """PKIndexSplitter (reference
    ``Lucene.Net.Misc/Index/PKIndexSplitter.cs:30``): split one index
    into (docs passing the filter, docs failing it). The reference
    wraps each pass in a DocumentFilteredAtomicIndexReader — a reader
    whose liveDocs mask hides the other part WITHOUT rewriting
    postings or collection statistics (fake deletes, exactly like
    MultiPassIndexSplitter's FakeDeleteIndexReader).

    The Spark analog is the engine's own tombstone surface: each part
    is an IndexSearcher over the SAME shared index (zero data copied,
    zero repack) with the complement docid set anti-joined out of
    every result. Scores therefore match the unsplit index bit for
    bit — Lucene semantics, where deletes don't touch df/ttf until a
    merge folds them in.

    Returns (passing_searcher, failing_searcher).
    """
    from lucenenet_spark.search.searcher import IndexSearcher

    keep = index.docs.where(predicate).select("docid")
    drop = index.docs.select("docid").exceptAll(keep)
    return (
        IndexSearcher(index, tombstones=drop),
        IndexSearcher(index, tombstones=keep),
    )
