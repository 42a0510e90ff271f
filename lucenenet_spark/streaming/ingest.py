"""Near-real-time ingest — the reference's NRT surface (SURVEY.md
§2.10) re-expressed on Structured Streaming + the sharded warehouse.

Mapping:

- ``IndexWriter.AddDocument`` buffered in RAM then flushed as a
  segment (``Index/IndexWriter.cs:1602``;
  ``Index/DocumentsWriterPerThread.cs:509``) → one micro-batch =
  one immutable SHARD appended by ``append_batch``: ``build_index``
  over the batch, then ``InvertedIndex.save`` of its persisted segment
  output into ``shards/N/{segments,term_stats,corpus_stats}`` — the
  same directory a bulk ``save``, a resumable shard
  (index/checkpoint.py), AddIndexes and a compaction write, with the
  same manifest; the streaming query is just
  ``foreachBatch(append_batch)``.
- ``segments_N`` generation files + two-phase commit
  (``Index/IndexFileNames.cs:54``; ``IndexWriter.cs:4092``) → the
  manifest directory: a shard is visible iff its manifest JSON exists,
  and the manifest is written atomically AFTER the shard's data —
  readers never see partial segments.
- Deletes by term/query buffered as liveDocs
  (``Index/IndexWriter.cs:1755-1941``, ``BufferedUpdates``) →
  an append-only TOMBSTONE table; ``apply_tombstones`` anti-joins it
  at query time (liveDocs-as-filter), exactly the delete-files model
  Iceberg uses. Re-adding a doc_key after deletion wins by tombstone
  timestamp vs shard id.
- ``DirectoryReader.Open(writer)`` point-in-time NRT reader
  (``Index/DirectoryReader.cs:111``) → ``load_live``: a fresh
  ``load_sharded`` + current tombstones; snapshot isolation comes from
  shard immutability.

docids: each appended batch gets the next contiguous docid range
(start = previous total), recorded in the manifest — the docBase
scheme of ``Index/BaseCompositeReader.cs``.
"""

from __future__ import annotations

import dataclasses
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucenenet_spark.index.builder import CorpusSpec, InvertedIndex, build_index
from lucenenet_spark.index.checkpoint import (
    _shard_counters,
    _write_manifest_atomic,
    load_sharded,
    next_doc_base,
    read_manifest,
)
from lucenenet_spark.index.postings import drop_deleted


def _next_shard_and_base(path: str) -> tuple[int, int]:
    """Next shard id and docid base. The base is the docid high-water
    mark + 1 (``next_doc_base``), NOT the sum of per-shard doc counts:
    compaction keeps surviving docids sparse, so after any tombstoned
    compaction a count-sum would assign new docids below the max
    surviving docid and merge two documents' postings."""
    manifest = read_manifest(path)
    if not manifest:
        return 0, 0
    return max(manifest) + 1, next_doc_base(manifest)


def append_batch(
    batch_df: DataFrame,
    path: str,
    spec: CorpusSpec | None = None,
    batch_id: int | None = None,
) -> dict:
    """Index one micro-batch as a new immutable shard. Idempotent per
    ``batch_id``: if a manifest for this batch_id already exists (a
    foreachBatch retry after failure), the append is skipped — the
    exactly-once contract Structured Streaming expects of sinks."""
    spec = spec or CorpusSpec()
    spark = batch_df.sparkSession
    manifest = read_manifest(path)
    if batch_id is not None:
        for rec in manifest.values():
            if rec.get("batch_id") == batch_id:
                return rec
    shard, base = _next_shard_and_base(path)

    n = batch_df.count()
    if n == 0:
        return {}
    # docids: a DENSE contiguous range starting at the docid high-water
    # mark (docBase). Always derived from row_number over the pinned
    # within-batch order — an id_col is used only as that order (global
    # id values are NOT reused as docids: they aren't 0-based per batch,
    # so base+id would leave gaps and collide across shards while the
    # manifest records dense ranges).
    from pyspark.sql import Window

    order_cols = [spec.id_col] if spec.id_col else list(spec.order_cols)
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    with_ids = batch_df.withColumn(
        "docid", F.row_number().over(w).cast("long") - 1 + base
    )
    t0 = time.perf_counter()
    # carry the WHOLE spec (stem/cjk/synonyms/shingles/edge-ngrams);
    # only the id column changes — shards must analyze identically to
    # a batch build or merged postings diverge
    shard_spec = dataclasses.replace(spec, id_col="docid")
    idx = build_index(spark, with_ids, shard_spec)
    sdir = os.path.join(path, "shards", str(shard))
    idx.save(sdir)
    counters = _shard_counters(spark, sdir)
    idx.unpersist()
    rec = {
        "shard": shard,
        "fingerprint": f"stream:{batch_id}",
        "batch_id": batch_id,
        "doc_base": base,
        "status": "done",
        "wall_sec": round(time.perf_counter() - t0, 3),
        **counters,
    }
    _write_manifest_atomic(path, shard, rec)
    return rec


def stream_index(
    stream_df: DataFrame,
    path: str,
    spec: CorpusSpec | None = None,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Attach the indexing sink to a streaming DataFrame:
    ``readStream ... → stream_index(df, path)``. Returns the running
    StreamingQuery (call ``.awaitTermination()``)."""
    writer = stream_df.writeStream.foreachBatch(
        lambda bdf, bid: append_batch(bdf, path, spec, batch_id=bid) and None
    ).option("checkpointLocation", checkpoint_dir or os.path.join(path, "_stream_chk"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def delete_docs(spark: SparkSession, path: str, docids: list[int]) -> None:
    """Buffer deletes as tombstones (delete-by-term resolves the term
    to docids first via the searcher)."""
    if not docids:
        return
    df = spark.createDataFrame(
        [(int(d), time.time_ns()) for d in docids], "docid long, deleted_at long"
    )
    df.write.mode("append").parquet(os.path.join(path, "tombstones"))


def apply_tombstones(spark: SparkSession, path: str, scored: DataFrame) -> DataFrame:
    """liveDocs filter: anti-join the tombstone set (no-op when none
    exist)."""
    tpath = os.path.join(path, "tombstones")
    if not os.path.exists(tpath):
        return scored
    return drop_deleted(scored, spark.read.parquet(tpath))


def load_live(spark: SparkSession, path: str) -> tuple[InvertedIndex, DataFrame | None]:
    """Point-in-time reader over everything committed so far: the
    merged sharded index + the current tombstone set (None if empty).
    NOTE: corpus stats include deleted docs until a compaction rewrites
    shards — identical to the reference, where maxDoc counts deleted
    docs until merge (``BM25Similarity`` uses maxDoc, not numDocs)."""
    idx = load_sharded(spark, path)
    tpath = os.path.join(path, "tombstones")
    # one row per delete, duplicates kept: the anti-join that applies
    # them (postings.drop_deleted) does not depend on them
    tombs = spark.read.parquet(tpath).select("docid") if os.path.exists(tpath) else None
    return idx, tombs
