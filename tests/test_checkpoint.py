"""Resumable sharded build: checkpoint skip/rebuild semantics, lineage
counters, and CheckIndex-style reconciliation (SURVEY.md §5.4 — the
reference's CheckIndex recomputes per-segment docCount/termCount/
totFreq, src/Lucene.Net/Index/CheckIndex.cs:74-374)."""

from __future__ import annotations

import json
import os

import pytest

from lucenenet_spark.index import CorpusSpec, build_index
from lucenenet_spark.index.checkpoint import (
    build_sharded,
    check_index,
    load_sharded,
    read_manifest,
)
from lucenenet_spark.search.queries import BooleanQuery, Occur, TermQuery
from lucenenet_spark.search.searcher import IndexSearcher

SPEC = CorpusSpec(
    text_col="content",
    order_cols=("repo", "path", "commit"),
    meta_cols=("repo", "path", "lang"),
)
SHARD_DOCS = 64  # 200-doc test corpus -> 4 shards


@pytest.fixture(scope="module")
def warehouse(spark, corpus_rows, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sharded_idx"))
    corpus = spark.createDataFrame(corpus_rows)
    built: list[int] = []
    manifest = build_sharded(
        spark, corpus, SPEC, path=path, shard_docs=SHARD_DOCS, progress=built
    )
    return path, manifest, built, corpus


def test_all_shards_built_with_counters(warehouse):
    path, manifest, built, _ = warehouse
    assert sorted(manifest) == [0, 1, 2, 3]
    assert sorted(built) == [0, 1, 2, 3]
    total_docs = sum(m["docs"] for m in manifest.values())
    assert total_docs == 200
    for m in manifest.values():
        assert m["status"] == "done"
        assert m["terms"] > 0 and m["postings"] > 0 and m["bytes"] > 0
        assert ":" in m["fingerprint"]


def test_sharded_index_matches_single_build(spark, corpus_rows, warehouse):
    path, _, _, corpus = warehouse
    sharded = load_sharded(spark, path)
    single = build_index(spark, corpus, SPEC)
    assert sharded.max_doc == single.max_doc
    assert sharded.sum_total_term_freq == single.sum_total_term_freq
    # identical term statistics after partial merge
    a = {r["term"]: (r["df"], r["ttf"]) for r in sharded.term_stats.collect()}
    b = {r["term"]: (r["df"], r["ttf"]) for r in single.term_stats.collect()}
    assert a == b
    # identical top-k (rank AND float32 score bits)
    q = BooleanQuery.of(
        (TermQuery(term="return"), Occur.MUST), (TermQuery(term="value"), Occur.SHOULD)
    )
    hits_a = IndexSearcher(sharded).search(q, 10)
    hits_b = IndexSearcher(single).search(q, 10)
    assert [(h.docid, h.score) for h in hits_a] == [(h.docid, h.score) for h in hits_b]
    single.unpersist()


def test_resume_skips_completed_shards(spark, corpus_rows, tmp_path):
    path = str(tmp_path / "resume_idx")
    corpus = spark.createDataFrame(corpus_rows)
    # simulate a crash after 2 shards
    first: list[int] = []
    build_sharded(
        spark, corpus, SPEC, path=path, shard_docs=SHARD_DOCS,
        max_shards=2, progress=first,
    )
    assert len(first) == 2
    # resume: only the remaining shards are built
    second: list[int] = []
    manifest = build_sharded(
        spark, corpus, SPEC, path=path, shard_docs=SHARD_DOCS, progress=second
    )
    assert sorted(first + second) == [0, 1, 2, 3]
    assert not set(first) & set(second)
    assert sorted(manifest) == [0, 1, 2, 3]
    # idempotent: a third run builds nothing
    third: list[int] = []
    build_sharded(
        spark, corpus, SPEC, path=path, shard_docs=SHARD_DOCS, progress=third
    )
    assert third == []


def test_fingerprint_mismatch_triggers_rebuild(spark, warehouse):
    path, _, _, corpus = warehouse
    mp = os.path.join(path, "manifest", "shard_1.json")
    with open(mp) as f:
        rec = json.load(f)
    rec["fingerprint"] = "0:deadbeefdeadbeef"
    with open(mp, "w") as f:
        json.dump(rec, f)
    rebuilt: list[int] = []
    build_sharded(
        spark, corpus, SPEC, path=path, shard_docs=SHARD_DOCS, progress=rebuilt
    )
    assert rebuilt == [1]
    assert read_manifest(path)[1]["fingerprint"] != "0:deadbeefdeadbeef"


def test_check_index_reconciles(spark, warehouse):
    path, _, _, _ = warehouse
    report = check_index(spark, path)
    assert all(v["ok"] for v in report.values())


def test_check_index_detects_corruption(spark, warehouse):
    path, _, _, corpus = warehouse
    mp = os.path.join(path, "manifest", "shard_2.json")
    with open(mp) as f:
        rec = json.load(f)
    rec["postings"] += 7
    with open(mp, "w") as f:
        json.dump(rec, f)
    report = check_index(spark, path)
    assert not report[2]["ok"]
    # restore for other tests
    rec["postings"] -= 7
    with open(mp, "w") as f:
        json.dump(rec, f)
    assert check_index(spark, path)[2]["ok"]
    # maxDoc check: corpus_stats must count the shard's doc rows
    cs_dir = os.path.join(path, "shards", "2", "corpus_stats")
    good = spark.read.parquet(cs_dir).collect()[0]
    spark.createDataFrame(
        [(good["max_doc"] + 5, good["sum_total_term_freq"])], "max_doc long, sum_total_term_freq long"
    ).write.mode("overwrite").parquet(cs_dir)
    assert not check_index(spark, path)[2]["ok"]
    spark.createDataFrame([tuple(good)], "max_doc long, sum_total_term_freq long").write.mode(
        "overwrite"
    ).parquet(cs_dir)
    assert check_index(spark, path)[2]["ok"]
