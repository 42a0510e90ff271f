"""Index build correctness: docs/postings/stats tables vs the oracle
index, CheckIndex-style counter reconciliation (FIXTURES.md §6,
reference src/Lucene.Net/Index/CheckIndex.cs:291-348)."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_docids_are_dense_and_ordered(spark_index, corpus_rows):
    rows = spark_index.docs.select("docid", "repo", "path").orderBy("docid").collect()
    assert [r["docid"] for r in rows] == list(range(len(corpus_rows)))
    # docid order == pinned (repo, path, commit) order
    assert [(r["repo"], r["path"]) for r in rows] == [
        (r["repo"], r["path"]) for r in corpus_rows
    ]


def test_field_lengths_and_norms_match_oracle(spark_index, oracle_index):
    rows = spark_index.docs.select("docid", "field_length", "norm").orderBy("docid").collect()
    fls = np.array([r["field_length"] for r in rows])
    norms = np.array([r["norm"] for r in rows])
    np.testing.assert_array_equal(fls, oracle_index.field_lengths)
    np.testing.assert_array_equal(norms, oracle_index.norms.astype(norms.dtype))


def test_term_stats_match_oracle(spark_index, oracle_index):
    got = {
        r["term"]: (r["df"], r["ttf"])
        for r in spark_index.term_stats.collect()
    }
    exp = {
        t: (len(pl), sum(f for f, _ in pl.values()))
        for t, pl in oracle_index.postings.items()
    }
    assert got == exp


def test_corpus_stats(spark_index, oracle_index):
    assert spark_index.max_doc == oracle_index.max_doc
    assert spark_index.sum_total_term_freq == oracle_index.sum_total_term_freq


def test_checkindex_counter_reconciliation(spark_index):
    """Σ df == posting rows; Σ ttf == Σ freq == Σ field_length."""
    ts = spark_index.term_stats.agg(
        F.sum("df").alias("sdf"), F.sum("ttf").alias("sttf")
    ).collect()[0]
    n_postings = spark_index.postings().count()
    sum_freq = spark_index.postings().agg(F.sum("freq")).collect()[0][0]
    sum_fl = spark_index.docs.agg(F.sum("field_length")).collect()[0][0]
    assert ts["sdf"] == n_postings
    assert ts["sttf"] == sum_freq == sum_fl == spark_index.sum_total_term_freq


def test_packed_blocks_roundtrip(spark_index, oracle_index):
    """Unpacking every packed block reproduces the flat postings."""
    from lucenenet_spark.functions.varbyte import (
        decode_freqs,
        decode_positions,
        delta_decode_docids,
    )

    blocks = spark_index.packed.collect()
    got: dict[str, dict[int, tuple[int, list[int]]]] = {}
    for b in blocks:
        docids = delta_decode_docids(bytes(b["docs_enc"]))
        freqs = decode_freqs(bytes(b["freqs_enc"]))
        poss = decode_positions(bytes(b["positions_enc"]), len(docids))
        norms = np.frombuffer(bytes(b["norms_enc"]), dtype=np.uint8)
        assert b["count"] == len(docids) <= 128
        assert b["first_docid"] == docids[0] and b["last_docid"] == docids[-1]
        assert b["max_freq"] == int(freqs.max())
        assert b["max_norm"] == int(norms.max()) and b["min_norm"] == int(norms.min())
        for d, f, p in zip(docids, freqs, poss):
            got.setdefault(b["term"], {})[int(d)] = (int(f), list(p))
    exp = {
        t: {d: (f, list(p)) for d, (f, p) in pl.items()}
        for t, pl in oracle_index.postings.items()
    }
    assert got == exp


def test_content_sha256_per_row(spark_index, corpus_rows):
    """input_hint per-row invariant: sha256(content) equality."""
    import hashlib

    rows = spark_index.docs.select("docid", "content_sha256").orderBy("docid").collect()
    for r, src in zip(rows, corpus_rows):
        assert r["content_sha256"] == hashlib.sha256(src["content"].encode()).hexdigest()


def test_limit_token_count(spark):
    """LimitTokenCountFilter (max_tokens): a term emitted only beyond
    the cap is unsearchable; norms count the kept tokens."""
    from lucenenet_spark.index.builder import CorpusSpec, build_index
    from lucenenet_spark.search.queries import TermQuery
    from lucenenet_spark.search.searcher import IndexSearcher

    text = " ".join(["alpha"] * 10) + " needle " + " ".join(["beta"] * 5)
    rows = [("r", "a", "c", text), ("r", "b", "c", "needle early " + "pad " * 20)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string"
    )
    spec = CorpusSpec(order_cols=("repo", "path", "commit"), max_tokens=8)
    s = IndexSearcher(build_index(spark, df, spec).cache())
    # doc0's 'needle' is the 11th emitted token -> truncated away;
    # doc1's is first -> kept
    hits = [h.docid for h in s.search(TermQuery(term="needle"), 10)]
    assert hits == [1]
    # field_length reflects the cap
    fls = {r["docid"]: r["field_length"] for r in s.index.docs.collect()}
    assert fls == {0: 8, 1: 8}
    # exclusivity guard
    import pytest as _pt

    with _pt.raises(ValueError):
        build_index(spark, df, CorpusSpec(
            order_cols=("repo", "path", "commit"), max_tokens=8, reverse=True
        ))


def test_length_filter(spark):
    """LengthFilter (token_length): out-of-range tokens unsearchable,
    position gaps preserved (phrase adjacency NOT created by removal)."""
    from lucenenet_spark.index.builder import CorpusSpec, build_index
    from lucenenet_spark.search.queries import PhraseQuery, TermQuery
    from lucenenet_spark.search.searcher import IndexSearcher

    rows = [("r", "a", "c", "alpha xy gamma"), ("r", "b", "c", "alpha gamma pad")]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string"
    )
    spec = CorpusSpec(order_cols=("repo", "path", "commit"), token_length=(3, 10))
    s = IndexSearcher(build_index(spark, df, spec).cache())
    # 'xy' (len 2) is filtered out of doc0
    assert s.search(TermQuery(term="xy"), 10) == []
    # but its position gap remains: alpha..gamma NOT adjacent in doc0
    hits = [h.docid for h in s.search(
        PhraseQuery(phrase_terms=("alpha", "gamma")), 10)]
    assert hits == [1]
    fls = {r["docid"]: r["field_length"] for r in s.index.docs.collect()}
    assert fls == {0: 2, 1: 3}
