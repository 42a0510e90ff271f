"""Shard compaction — the tiered-merge analog for streamed indexes.

Batch builds never need a merge pass (docid-disjoint buckets union),
but NRT ingest (streaming/ingest.py) appends one shard per micro-batch
and buffers deletes as tombstones; over time that means many small
shards, per-term block lists fragmented across them, and dead postings
inflating scans. ``compact_shards`` is the maintenance job the
reference runs continuously in the background
(``Index/TieredMergePolicy.cs:308``, ``SegmentMerger.cs:89-121``):

- reads every committed shard, drops tombstoned docs from both the
  docs table and the postings (unpack → filter → repack, the merge-
  time equivalent of applying liveDocs),
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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucenenet_spark.functions.varbyte import (
    BLOCK_SIZE,
    delta_encode_docids,
    encode_freqs,
    encode_positions,
)
from lucenenet_spark.index.builder import (
    BUCKET_DOCS,
    PACKED_SCHEMA,
    unpack_postings,
)
from lucenenet_spark.index.checkpoint import (
    _shard_counters,
    _write_manifest_atomic,
    load_sharded,
    read_manifest,
)
from lucenenet_spark.index.postings import drop_deleted


def repack_postings(flat: DataFrame) -> DataFrame:
    """(docid, term, freq, positions, norm) rows -> packed blocks.
    Shuffles on (term, bucket) — bounded groups by construction, the
    same skew guarantee as the build path; acceptable for a maintenance
    job that runs rarely."""

    def pack(key, pdf):
        term, bucket = key
        pdf = pdf.sort_values("docid")
        d = pdf["docid"].to_numpy(dtype=np.int64)
        f = pdf["freq"].to_numpy(dtype=np.int64)
        n = pdf["norm"].to_numpy(dtype=np.int64)
        pos = list(pdf["positions"])
        rows = []
        for b0 in range(0, len(d), BLOCK_SIZE):
            b1 = min(b0 + BLOCK_SIZE, len(d))
            db, fb, nb = d[b0:b1], f[b0:b1], n[b0:b1]
            rows.append(
                {
                    "term": term,
                    "bucket": int(bucket),
                    "block_id": int(db[0] - bucket * BUCKET_DOCS),
                    "first_docid": int(db[0]),
                    "last_docid": int(db[-1]),
                    "count": int(db.size),
                    "max_freq": int(fb.max()),
                    "sum_freq": int(fb.sum()),
                    "max_norm": int(nb.max()),
                    "min_norm": int(nb.min()),
                    "docs_enc": delta_encode_docids(db),
                    "freqs_enc": encode_freqs(fb),
                    "norms_enc": nb.astype(np.uint8).tobytes(),
                    "positions_enc": encode_positions(pos[b0:b1]),
                    # compaction serves the streaming/NRT path, which
                    # has no payload analyzer; re-packed blocks carry
                    # the no-payloads marker
                    "payloads_enc": None,
                }
            )
        return pd.DataFrame(rows, columns=[x.name for x in PACKED_SCHEMA.fields])

    return (
        flat.withColumn("bucket", (F.col("docid") / F.lit(BUCKET_DOCS)).cast("long"))
        .groupBy("term", "bucket")
        .applyInPandas(pack, schema=PACKED_SCHEMA)
    )


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
    if full_merge:
        idx = load_sharded(spark, path)
        docs, packed = idx.docs, idx.packed
    else:
        base = os.path.join(path, "shards")
        docs = spark.read.parquet(
            *[os.path.join(base, str(s), "docs") for s in old_shards]
        )
        packed = spark.read.parquet(
            *[os.path.join(base, str(s), "packed") for s in old_shards]
        )

    tpath = os.path.join(path, "tombstones")
    tombs = spark.read.parquet(tpath) if os.path.exists(tpath) else None
    docs = drop_deleted(docs, tombs)
    flat = drop_deleted(unpack_postings(packed), tombs)

    # next id over ALL live shards — a partial merge's inputs may not
    # include the highest shard id
    new_shard = max(manifest) + 1
    sdir = os.path.join(path, "shards", str(new_shard))
    t0 = time.perf_counter()
    docs.write.mode("overwrite").parquet(os.path.join(sdir, "docs"))
    repack_postings(flat).sortWithinPartitions("term", "bucket", "block_id").write.mode(
        "overwrite"
    ).parquet(os.path.join(sdir, "packed"))
    packed_new = spark.read.parquet(os.path.join(sdir, "packed"))
    packed_new.groupBy("term").agg(
        F.sum("count").alias("df"), F.sum("sum_freq").alias("ttf")
    ).write.mode("overwrite").parquet(os.path.join(sdir, "term_stats"))
    stats = spark.read.parquet(os.path.join(sdir, "docs")).agg(
        F.count("*").alias("max_doc"),
        F.coalesce(F.sum("field_length"), F.lit(0)).alias("sttf"),
    ).collect()[0]
    spark.createDataFrame(
        [(int(stats["max_doc"]), int(stats["sttf"]))],
        "max_doc long, sum_total_term_freq long",
    ).write.mode("overwrite").parquet(os.path.join(sdir, "corpus_stats"))

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
