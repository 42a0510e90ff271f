"""Plan-regime identity: a small query reads its posting blocks as one
partition, a large one keeps the parallel plan, and the answers must
not depend on which ran. Every reference query type plus the span and
payload paths, on a single-shard index and on a tombstoned two-shard
live index: identical top-k docids and float32 score bits in both
regimes, and no deleted docid in either."""

from __future__ import annotations

import numpy as np
import pytest

from lucenenet_spark.index import postings
from lucenenet_spark.index.builder import CorpusSpec, build_index
from lucenenet_spark.search import spans as sp
from lucenenet_spark.search.payloads import payload_near_query
from lucenenet_spark.search.reference_queries import reference_query_set
from lucenenet_spark.search.searcher import IndexSearcher
from lucenenet_spark.sources.synthetic import synthetic_corpus
from lucenenet_spark.streaming.ingest import append_batch, delete_docs, load_live

N_DOCS = 600
NEAR = sp.SpanNearQuery(
    (sp.SpanTermQuery("return"), sp.SpanTermQuery("value")), slop=2, in_order=True
)


@pytest.fixture(scope="module")
def corpus(spark):
    return synthetic_corpus(spark, N_DOCS, seed=7).toPandas()


@pytest.fixture(scope="module")
def single_shard(spark, corpus):
    idx = build_index(spark, spark.createDataFrame(corpus), CorpusSpec()).cache()
    yield IndexSearcher(idx)
    idx.unpersist()


@pytest.fixture(scope="module")
def live(spark, corpus, tmp_path_factory):
    """Two appended shards, then deletes that hit the top answers of
    the term, boolean, phrase, span and payload paths plus a spread of
    other docids. Returns the live searcher and the deleted set."""
    path = str(tmp_path_factory.mktemp("regimes") / "live")
    pdf = corpus.assign(gid=np.arange(len(corpus), dtype=np.int64))
    half = len(pdf) // 2
    for bid, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        append_batch(spark.createDataFrame(part), path, CorpusSpec(id_col="gid"), batch_id=bid)
    before = IndexSearcher(load_live(spark, path)[0])
    qs = reference_query_set()
    victims = set(range(0, N_DOCS, 37))
    for name in ("term_head", "bool_or", "phrase", "sloppy_phrase"):
        victims |= {h.docid for h in before.search(qs[name], 3)}
    victims |= {r.docid for r in sp.span_query_scored(before, NEAR, 3).collect()}
    victims |= {r.docid for r in payload_near_query(before, "return", "value", 2, 3).collect()}
    delete_docs(spark, path, sorted(victims))
    # a second delete of an already-deleted docid: duplicates on the
    # tombstone side must not change any answer
    delete_docs(spark, path, sorted(victims)[:5])
    idx, tombs = load_live(spark, path)
    assert tombs is not None and tombs.count() == len(victims) + 5
    return IndexSearcher(idx, tombstones=tombs), victims


def _answers(s: IndexSearcher) -> dict:
    out = {
        name: [(h.docid, np.float32(h.score).tobytes()) for h in s.search(q, 10)]
        for name, q in reference_query_set().items()
    }
    out["span_near"] = sorted((r.docid, r.n_spans) for r in sp.span_query(s, NEAR).collect())
    for name, df in (
        ("span_query_scored", sp.span_query_scored(s, NEAR, 10)),
        ("payload_near", payload_near_query(s, "return", "value", 2, 10)),
    ):
        out[name] = [(r.docid, np.float32(r.score).tobytes()) for r in df.collect()]
    return out


def _both_regimes(s: IndexSearcher, monkeypatch) -> tuple[dict, dict]:
    stats = s._term_stats(["return", "value"])
    assert postings.single_partition(stats)  # the fixture is small by default
    small = _answers(s)
    monkeypatch.setattr(postings, "SINGLE_PARTITION_MAX_BLOCKS", -1)
    assert not postings.single_partition(stats)
    return small, _answers(s)


def test_single_shard_regimes_identical(single_shard, monkeypatch):
    small, large = _both_regimes(single_shard, monkeypatch)
    assert small == large
    # the comparison bites: most paths have hits
    assert sum(bool(v) for v in small.values()) >= 15


def test_live_regimes_identical_and_no_deleted_docs(live, monkeypatch):
    s, deleted = live
    small, large = _both_regimes(s, monkeypatch)
    assert small == large
    assert sum(bool(v) for v in small.values()) >= 15
    for name, rows in small.items():
        assert not {d for d, _ in rows} & deleted, name
