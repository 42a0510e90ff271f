"""IndexWriter.AddIndexes analog — graft already-built indexes into a
sharded warehouse WITHOUT re-analysis.

Reference: ``Index/IndexWriter.cs`` ``AddIndexes(Directory[])`` copies
each source's segments into the target, re-basing docids by the
target's docBase; no documents are re-tokenized. Here a saved
:class:`InvertedIndex` becomes one new shard: docids shift by a
BUCKET-ALIGNED offset, so every packed posting block moves to its new
bucket intact — the only payload rewritten is ``docs_enc`` (its first
varint is the absolute first docid; we decode+shift+re-encode the
block's docid vector in one Arrow-batched pandas UDF). freqs /
norms / positions / payloads bytes are byte-identical copies, and
term_stats / corpus_stats merge at load exactly like any other shard.

Scale shape: per source, two JVM column projections (docs, packed
metadata) plus one vectorized UDF over packed blocks — proportional
to the SOURCE index size only, never the destination; commit order is
the warehouse's own (shard data first, manifest record last).
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lucenenet_spark.index.builder import InvertedIndex
from lucenenet_spark.index.checkpoint import (
    _shard_counters,
    _write_manifest_atomic,
    next_doc_base,
    read_manifest,
)
from lucenenet_spark.index.postings import BUCKET_DOCS


def add_indexes(
    spark: SparkSession, path: str, src_paths: list[str]
) -> list[dict]:
    """Graft each saved index at ``src_paths`` into the sharded
    warehouse at ``path`` as a new shard. Returns the manifest records
    (one per source), each carrying ``docid_offset`` lineage."""
    recs = []
    for src in src_paths:
        manifest = read_manifest(path)
        shard = max(manifest) + 1 if manifest else 0
        base = next_doc_base(manifest)
        # bucket-aligned offset: blocks keep their internal layout and
        # simply move to bucket + off/BUCKET_DOCS
        off = -(-base // BUCKET_DOCS) * BUCKET_DOCS
        t0 = time.perf_counter()
        idx = InvertedIndex.load(spark, src)

        docs2 = idx.docs.withColumn(
            "docid", (F.col("docid") + F.lit(off)).cast("long")
        )

        @F.pandas_udf("binary")
        def _shift_docs_enc(enc: pd.Series) -> pd.Series:
            from lucenenet_spark.functions.varbyte import (
                delta_decode_docids,
                delta_encode_docids,
            )

            return pd.Series(
                [
                    delta_encode_docids(delta_decode_docids(bytes(b)) + off)
                    for b in enc
                ]
            )

        packed2 = (
            idx.packed.withColumn(
                "bucket", (F.col("bucket") + F.lit(off // BUCKET_DOCS)).cast("long")
            )
            .withColumn("first_docid", (F.col("first_docid") + F.lit(off)).cast("long"))
            .withColumn("last_docid", (F.col("last_docid") + F.lit(off)).cast("long"))
            .withColumn("docs_enc", _shift_docs_enc(F.col("docs_enc")))
        )

        sdir = os.path.join(path, "shards", str(shard))
        # save fuses the shifted docs and blocks into one segments table
        InvertedIndex(
            docs=docs2,
            packed=packed2,
            term_stats=idx.term_stats,
            max_doc=idx.max_doc,
            sum_total_term_freq=idx.sum_total_term_freq,
        ).save(sdir)
        counters = _shard_counters(spark, sdir)
        rec = {
            "shard": shard,
            "fingerprint": f"add_indexes:{os.path.basename(src.rstrip('/'))}",
            "doc_base": base,
            "docid_offset": off,
            "source": src,
            "status": "done",
            "wall_sec": round(time.perf_counter() - t0, 3),
            **counters,
        }
        _write_manifest_atomic(path, shard, rec)
        recs.append(rec)
    return recs
