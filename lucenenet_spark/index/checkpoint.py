"""Resumable sharded index build with per-partition lineage + counters.

North-rule requirement: "resumable from checkpoint with per-partition
lineage and metrics". The reference's analog is segment-at-a-time
writing (each DWPT flush is an independent, immutable segment —
``Index/DocumentsWriterPerThread.cs:509``) plus ``CheckIndex``'s
counter reconciliation (``src/Lucene.Net/Index/CheckIndex.cs:74-374``:
docCount/termCount/totFreq recomputed and compared).

Layout under ``path/``::

    staged/shard=N/...     docid-assigned corpus, partitioned by shard
                           (one atomic write, step 0; skipped if done)
    shards/N/{segments,term_stats,corpus_stats}/   per-shard index
                           (InvertedIndex.save, the one writer)
    manifest/shard_N.json  atomic (tmp+rename) lineage record:
                           {shard, fingerprint, docs, terms, postings,
                            bytes, status, wall_sec}

Resume semantics: a shard whose manifest exists, says ``done`` and
whose input fingerprint matches the staged data is SKIPPED; everything
else is (re)built. The fingerprint is ``xor(xxhash64(content)) ⊕
count`` over the shard — order-independent, cheap, and any changed /
added / dropped row flips it.

Shards are docid ranges (``docid // shard_size``), so per-shard packed
posting blocks are docid-disjoint by construction and the global index
is the plain union of shard tables — no merge pass (the tiered-merge
job the reference needs, ``Index/TieredMergePolicy.cs``, is designed
away); only the tiny ``term_stats`` partials get sum-merged at load.
"""

from __future__ import annotations

import dataclasses
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucenenet_spark.index.builder import (
    CorpusSpec,
    InvertedIndex,
    build_index,
    read_index,
    read_segments,
)
from lucenenet_spark.index.postings import BUCKET_DOCS

# docid-range width of one shard; a multiple of the packing bucket so
# posting blocks never straddle shards
SHARD_DOCS = BUCKET_DOCS * 16


def _manifest_path(path: str, shard: int) -> str:
    return os.path.join(path, "manifest", f"shard_{shard}.json")


def _write_manifest_atomic(path: str, shard: int, record: dict) -> None:
    mp = _manifest_path(path, shard)
    os.makedirs(os.path.dirname(mp), exist_ok=True)
    tmp = mp + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, mp)


def read_manifest(path: str) -> dict[int, dict]:
    """Committed, live shard records. A shard listed in any committed
    record's ``supersedes`` (a compaction's inputs) is dropped even if
    its manifest file still exists — closing the crash window between
    a compaction's commit and the removal of the inputs it replaced
    (otherwise readers would union both and double every document)."""
    mdir = os.path.join(path, "manifest")
    out: dict[int, dict] = {}
    if not os.path.isdir(mdir):
        return out
    for name in os.listdir(mdir):
        if name.startswith("shard_") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                rec = json.load(f)
            out[int(rec["shard"])] = rec
    dead = {int(s) for rec in out.values() for s in rec.get("supersedes", [])}
    return {s: rec for s, rec in out.items() if s not in dead}


def next_doc_base(manifest: dict[int, dict]) -> int:
    """Docid high-water mark + 1 over committed shards. Compaction
    keeps surviving docids unremapped (sparse), so summing per-shard
    doc COUNTS after any tombstoned compaction would hand out docids
    below the max surviving docid — colliding two documents. The only
    safe base is max(doc_max)+1."""
    base = 0
    for rec in manifest.values():
        if rec.get("doc_max") is not None:
            hi = int(rec["doc_max"]) + 1
        else:  # legacy record: dense range (doc_base, docs)
            hi = int(rec.get("doc_base", 0)) + int(rec.get("docs", 0))
        base = max(base, hi)
    return base


def stage_corpus(
    spark: SparkSession,
    corpus: DataFrame,
    spec: CorpusSpec,
    path: str,
    shard_docs: int = SHARD_DOCS,
) -> str:
    """Step 0 (idempotent): assign docids, write the corpus partitioned
    by shard. One full corpus write — the price of restartability; on
    resume the completed staging (_SUCCESS marker) is reused as-is so
    docids are frozen across restarts (lineage starts here)."""
    staged = os.path.join(path, "staged")
    if os.path.exists(os.path.join(staged, "_SUCCESS")):
        return staged
    from lucenenet_spark.index.builder import assign_docids

    with_ids = assign_docids(corpus, spec)
    (
        with_ids.withColumn("shard", (F.col("docid") / F.lit(shard_docs)).cast("int"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(staged)
    )
    return staged


def _shard_fingerprint(shard_df: DataFrame, text_col: str) -> str:
    row = shard_df.agg(
        F.count("*").alias("cnt"),
        F.coalesce(
            F.bit_xor(F.xxhash64(F.coalesce(F.col(text_col), F.lit("")))), F.lit(0)
        ).alias("hx"),
    ).collect()[0]
    return f"{int(row['cnt'])}:{int(row['hx']) & 0xFFFFFFFFFFFFFFFF:016x}"


def build_sharded(
    spark: SparkSession,
    corpus: DataFrame,
    spec: CorpusSpec | None = None,
    path: str = "/tmp/lucenenet_index",
    shard_docs: int = SHARD_DOCS,
    max_shards: int | None = None,
    progress: list | None = None,
) -> dict[int, dict]:
    """Build (or resume) the sharded index. ``max_shards`` limits how
    many pending shards are processed this invocation — the test
    harness's crash-simulation hook. ``progress`` (if a list) receives
    the shard ids actually built this run."""
    spec = spec or CorpusSpec()
    staged = stage_corpus(spark, corpus, spec, path, shard_docs)
    staged_df = spark.read.parquet(staged)
    shards = sorted(
        r["shard"] for r in staged_df.select("shard").distinct().collect()
    )
    manifest = read_manifest(path)
    built = 0
    for shard in shards:
        shard_df = staged_df.where(F.col("shard") == shard)
        fp = _shard_fingerprint(shard_df, spec.text_col)
        rec = manifest.get(shard)
        if rec and rec.get("status") == "done" and rec.get("fingerprint") == fp:
            continue  # checkpoint hit: shard already built from identical input
        if max_shards is not None and built >= max_shards:
            break
        t0 = time.perf_counter()
        # whole-spec copy: shard analysis (stem/cjk/synonyms/shingles/
        # edge-ngrams) must match what a batch build would do
        shard_spec = dataclasses.replace(spec, id_col="docid")
        idx = build_index(spark, shard_df, shard_spec)
        sdir = os.path.join(path, "shards", str(shard))
        idx.save(sdir)
        counters = _shard_counters(spark, sdir)
        idx.unpersist()
        rec = {
            "shard": int(shard),
            "fingerprint": fp,
            "status": "done",
            "wall_sec": round(time.perf_counter() - t0, 3),
            **counters,
        }
        _write_manifest_atomic(path, shard, rec)
        manifest[shard] = rec
        if progress is not None:
            progress.append(int(shard))
        built += 1
    return manifest


def _shard_counters(spark: SparkSession, sdir: str) -> dict:
    """CheckIndex-style counters recomputed from the written tables:
    one aggregate over the segments table (doc rows carry a docid,
    block rows a count and encoded bytes) and the term_stats rows."""
    row = read_segments(spark, [sdir]).agg(
        F.count("docid").alias("docs"),
        F.coalesce(F.max("docid"), F.lit(-1)).alias("doc_max"),
        F.coalesce(F.sum("count"), F.lit(0)).alias("postings"),
        F.coalesce(
            F.sum(
                F.length("docs_enc")
                + F.length("freqs_enc")
                + F.length("norms_enc")
                + F.length("positions_enc")
            ),
            F.lit(0),
        ).alias("bytes"),
    ).collect()[0]
    return {
        "docs": int(row["docs"]),
        "doc_max": int(row["doc_max"]),
        "terms": spark.read.parquet(os.path.join(sdir, "term_stats")).count(),
        "postings": int(row["postings"]),
        "bytes": int(row["bytes"]),
    }


def check_index(spark: SparkSession, path: str) -> dict:
    """CheckIndex analog: recompute every shard's counters from its
    tables and reconcile against the manifest. Returns
    {shard: {"ok": bool, "expected": {...}, "actual": {...}}}."""
    manifest = read_manifest(path)
    out: dict[int, dict] = {}
    for shard, rec in sorted(manifest.items()):
        sdir = os.path.join(path, "shards", str(shard))
        keys = ("docs", "terms", "postings", "bytes")
        actual_all = _shard_counters(spark, sdir)
        actual = {k: actual_all[k] for k in keys}
        expected = {k: rec[k] for k in keys}
        # cross-table reconciliation: postings rows must also equal the
        # sum of term_stats.df (every (doc,term) pair counted once)
        ts = spark.read.parquet(os.path.join(sdir, "term_stats"))
        df_sum = ts.agg(F.coalesce(F.sum("df"), F.lit(0))).collect()[0][0]
        ok = actual == expected and int(df_sum) == actual["postings"]
        # maxDoc check: the corpus scalar must count the shard's doc rows
        cs = spark.read.parquet(os.path.join(sdir, "corpus_stats")).collect()[0]
        ok = ok and int(cs["max_doc"]) == actual["docs"]
        if rec.get("doc_max") is not None:
            ok = ok and int(rec["doc_max"]) == actual_all["doc_max"]
        out[shard] = {"ok": ok, "expected": expected, "actual": actual}
    return out


def load_sharded(spark: SparkSession, path: str) -> InvertedIndex:
    """Open the sharded index as one logical InvertedIndex
    (:func:`~lucenenet_spark.index.builder.read_index`: shard tables
    union, docid-disjoint ⇒ no merge; term_stats partials sum-merged).

    The shard set comes from the MANIFEST, not a directory listing:
    shard data is written BEFORE its manifest, so a crash in that
    window leaves a partial/orphan directory that a listdir-based
    reader would include (duplicated or truncated docs). A shard is
    visible iff its manifest says ``done`` and no committed compaction
    supersedes it; unmanifested directories are garbage
    (``gc_orphan_shards`` removes them)."""
    manifest = read_manifest(path)
    shards = sorted(s for s, rec in manifest.items() if rec.get("status") == "done")
    if not shards:
        raise ValueError(f"no committed shards under {path}")
    return read_index(spark, [os.path.join(path, "shards", str(s)) for s in shards])


def gc_orphan_shards(path: str) -> list[str]:
    """Remove garbage the commit protocol can leave behind: shard
    directories without a live manifest record (crash between data
    write and manifest commit) and manifest files of superseded shards
    (crash between a compaction's commit and input retirement).
    Readers already ignore both — this just reclaims space. Returns the
    removed paths."""
    import shutil

    live = read_manifest(path)
    removed: list[str] = []
    sdir = os.path.join(path, "shards")
    if os.path.isdir(sdir):
        for name in os.listdir(sdir):
            if name.isdigit() and int(name) not in live:
                p = os.path.join(sdir, name)
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
    mdir = os.path.join(path, "manifest")
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            if name.startswith("shard_") and name.endswith(".json"):
                shard = int(name[len("shard_") : -len(".json")])
                if shard not in live:
                    p = os.path.join(mdir, name)
                    os.remove(p)
                    removed.append(p)
    return removed
