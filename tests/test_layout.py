"""One on-disk index layout. Every writer of an index directory — a
fresh save, the re-save of a loaded index, a resumable shard, an
appended batch, AddIndexes and a compaction — leaves exactly the
``segments``, ``term_stats`` and ``corpus_stats`` tables, and reading
the directory back gives the docs and packed rows of the index that
wrote it (the reference writes every segment, flushed, merged or added,
in one codec and opens it with one reader)."""

from __future__ import annotations

import os

import pytest

from lucenenet_spark.index import CorpusSpec, InvertedIndex, build_index
from lucenenet_spark.index.addindexes import add_indexes
from lucenenet_spark.index.checkpoint import build_sharded, read_manifest
from lucenenet_spark.index.compaction import compact_shards
from lucenenet_spark.streaming import append_batch, delete_docs

SPEC = CorpusSpec(
    text_col="content",
    order_cols=("repo", "path", "commit"),
    meta_cols=("repo", "path", "lang"),
)
TABLES = ["corpus_stats", "segments", "term_stats"]


def _rows(df) -> list[str]:
    return sorted(repr(sorted(r.asDict().items())) for r in df.collect())


@pytest.fixture()
def saved(monkeypatch):
    """path -> (docs rows, packed rows, max_doc) of each index saved,
    taken right after its save (a compaction deletes the inputs its
    frames read from)."""
    out: dict[str, tuple] = {}
    save = InvertedIndex.save

    def recording_save(self, path):
        save(self, path)
        out[path] = (_rows(self.docs), _rows(self.packed), self.max_doc)

    monkeypatch.setattr(InvertedIndex, "save", recording_save)
    return out


def _check_dir(spark, d: str, saved: dict) -> None:
    assert sorted(n for n in os.listdir(d) if n[0] not in "._") == TABLES
    back = InvertedIndex.load(spark, d)
    assert (_rows(back.docs), _rows(back.packed), back.max_doc) == saved[d]


def _check_shards(spark, wh: str, saved: dict) -> None:
    shards = sorted(read_manifest(wh))
    assert shards
    for s in shards:
        _check_dir(spark, os.path.join(wh, "shards", str(s)), saved)


def test_save_and_resave(spark, corpus_rows, tmp_path, saved):
    idx = build_index(spark, spark.createDataFrame(corpus_rows[:120]), SPEC)
    fresh, again = str(tmp_path / "fresh"), str(tmp_path / "again")
    idx.save(fresh)
    _check_dir(spark, fresh, saved)
    InvertedIndex.load(spark, fresh).save(again)
    _check_dir(spark, again, saved)
    assert saved[again] == saved[fresh]
    idx.unpersist()


def test_build_sharded(spark, corpus_rows, tmp_path, saved):
    wh = str(tmp_path / "wh")
    corpus = spark.createDataFrame(corpus_rows[:120])
    build_sharded(spark, corpus, SPEC, path=wh, shard_docs=64)
    assert len(read_manifest(wh)) == 2
    _check_shards(spark, wh, saved)


def test_append_batch_and_compact(spark, corpus_rows, tmp_path, saved):
    wh = str(tmp_path / "live")
    for i, part in enumerate((corpus_rows[:60], corpus_rows[60:120])):
        append_batch(spark.createDataFrame(part), wh, SPEC, batch_id=i)
    _check_shards(spark, wh, saved)
    delete_docs(spark, wh, [3, 70])
    rec = compact_shards(spark, wh)
    assert sorted(read_manifest(wh)) == [rec["shard"]]
    _check_shards(spark, wh, saved)
    assert saved[os.path.join(wh, "shards", str(rec["shard"]))][2] == 118


def test_add_indexes(spark, corpus_rows, tmp_path, saved):
    srcs = []
    for i, part in enumerate((corpus_rows[:60], corpus_rows[60:120])):
        src = str(tmp_path / f"src{i}")
        build_index(spark, spark.createDataFrame(part), SPEC).save(src)
        srcs.append(src)
    wh = str(tmp_path / "wh")
    add_indexes(spark, wh, srcs)
    _check_shards(spark, wh, saved)
