"""Shard compaction — the tiered-merge analog for streamed indexes.

Batch builds never need a merge pass (docid-disjoint buckets union),
but NRT ingest (streaming/ingest.py) appends one shard per micro-batch
and buffers deletes as tombstones; over time that means many small
shards, per-term block lists fragmented across them, and dead postings
inflating scans. ``compact_shards`` is the maintenance job the
reference runs continuously in the background
(``Index/TieredMergePolicy.cs:308``, ``SegmentMerger.cs:89-121``):

- reads every committed shard, drops tombstoned docs from both the
  docs table and the postings (unpack → filter → repack through the
  build's own block packer, payloads included — the merge-time
  equivalent of applying liveDocs),
- rewrites the result as ONE shard (id = max+1) with recomputed
  corpus stats (docCount and sumTotalTermFreq now exclude deletions,
  exactly like a Lucene merge; docids are NOT remapped — they stay
  stable, the space just becomes sparse),
- commits by atomically writing the new shard's manifest and then
  removing the old manifests + consumed tombstones; a crash before the
  new manifest leaves the old index intact (two-phase commit).

After compaction the tombstone set is empty, so the searcher's
rank-safe block-max pruning re-enables.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import SparkSession

from lucenenet_spark.index.builder import (
    index_segments,
    read_segments,
    split_segments,
)
from lucenenet_spark.index.checkpoint import (
    _shard_counters,
    _write_manifest_atomic,
    read_manifest,
)
from lucenenet_spark.index.postings import _unpack, drop_deleted, repack_postings


def select_merge_candidates(
    manifest: dict[int, dict], max_merge_docs: int | None = None, min_shards: int = 2
) -> list[int]:
    """TieredMergePolicy's selection role (``TieredMergePolicy.cs:308``
    FindMerges): pick the shards worth merging — those at or below
    ``max_merge_docs`` (None = all). Merging fewer than ``min_shards``
    is not worth a rewrite unless tombstones need purging (caller's
    call). Returns sorted shard ids."""
    if max_merge_docs is None:
        return sorted(manifest)
    picked = [s for s, rec in manifest.items() if rec.get("docs", 0) <= max_merge_docs]
    return sorted(picked) if len(picked) >= min_shards else []


def compact_shards(
    spark: SparkSession, path: str, max_merge_docs: int | None = None
) -> dict:
    """Merge shards into one, applying tombstones. With
    ``max_merge_docs`` set, only shards at or below that size merge —
    the TIERED policy: NRT appends produce many small shards, and
    rewriting the large settled ones on every maintenance pass would
    make compaction cost proportional to total index size instead of
    to the churn. Untouched shards keep their manifests; tombstones are
    consumed only when every shard was merged (a tombstoned docid may
    live in an unmerged shard). Returns the new shard's manifest
    record."""
    manifest = read_manifest(path)
    if not manifest:
        raise ValueError(f"no shards under {path}")
    old_shards = select_merge_candidates(manifest, max_merge_docs)
    if not old_shards:
        return {}
    full_merge = old_shards == sorted(manifest)
    docs, packed = split_segments(
        read_segments(spark, [os.path.join(path, "shards", str(s)) for s in old_shards])
    )

    tpath = os.path.join(path, "tombstones")
    tombs = spark.read.parquet(tpath) if os.path.exists(tpath) else None
    docs = drop_deleted(docs, tombs)
    flat = drop_deleted(_unpack(packed, payloads=True, fill=False), tombs)

    # next id over ALL live shards — a partial merge's inputs may not
    # include the highest shard id
    new_shard = max(manifest) + 1
    sdir = os.path.join(path, "shards", str(new_shard))
    t0 = time.perf_counter()
    merged = index_segments(
        repack_postings(flat).unionByName(docs, allowMissingColumns=True)
    )
    merged.save(sdir)
    merged.unpersist()

    counters = _shard_counters(spark, sdir)
    # docid high-water mark survives even an everything-deleted
    # compaction: carry the max over the inputs so a later append never
    # reuses a docid that once existed (tombstones may still reference
    # it, and readers of older snapshots may still hold it)
    old_hi = max(
        int(rec.get("doc_max", int(rec.get("doc_base", 0)) + int(rec.get("docs", 0)) - 1))
        for rec in (manifest[s] for s in old_shards)
    )
    counters["doc_max"] = max(counters["doc_max"], old_hi)
    # TRANSITIVE dead set: a crash between a prior compaction's commit
    # and its input retirement leaves stale manifests on disk that are
    # hidden only while the superseding record lives. When THIS record
    # retires that record, the stale inputs would resurrect (their
    # docs already folded into the inputs we merged — double-count) —
    # so the new record's supersedes carries each input's own
    # supersedes forward in addition to the direct inputs.
    inherited_dead = {
        int(d) for s in old_shards for d in manifest[s].get("supersedes", [])
    }
    rec = {
        "shard": new_shard,
        "fingerprint": f"compaction:{'+'.join(map(str, old_shards))}",
        # recovery metadata: any shard listed here is dead the instant
        # this manifest commits — read_manifest drops them, so a crash
        # before the removal loop below cannot double-count documents
        "supersedes": sorted({int(s) for s in old_shards} | inherited_dead),
        "status": "done",
        "wall_sec": round(time.perf_counter() - t0, 3),
        **counters,
    }
    # two-phase commit: new manifest first, then retire the inputs —
    # including any inherited-dead leftovers a previous crash stranded
    _write_manifest_atomic(path, new_shard, rec)
    for s in rec["supersedes"]:
        mp = os.path.join(path, "manifest", f"shard_{s}.json")
        if os.path.exists(mp):
            os.remove(mp)
        shutil.rmtree(os.path.join(path, "shards", str(s)), ignore_errors=True)
    # tombstones are consumed only by a FULL merge: after a tiered
    # (partial) merge a deleted docid may still live in an unmerged
    # shard, so the tombstone set must keep filtering reads
    if tombs is not None and full_merge:
        shutil.rmtree(tpath, ignore_errors=True)
    return rec
