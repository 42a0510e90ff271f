"""MultiPassIndexSplitter analog: metadata-only bucket-aligned split;
parts are queryable and their union reconstructs the whole."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lucenenet_spark.index.builder import CorpusSpec, build_index
from lucenenet_spark.index.splitter import split_index
from lucenenet_spark.search.queries import TermQuery
from lucenenet_spark.search.searcher import IndexSearcher


@pytest.fixture(scope="module")
def big_idx(spark):
    rows = [("r", f"p{i:04d}", "c", f"spark merge w{i % 11}") for i in range(300)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string"
    )
    return build_index(spark, df, CorpusSpec(order_cols=("repo", "path", "commit"))).cache()


def test_split_partitions_docids(big_idx):
    parts = split_index(big_idx, 3)
    sizes = [p.max_doc for p in parts]
    assert sum(sizes) == big_idx.max_doc == 300
    all_ids = []
    for p in parts:
        all_ids.extend(r.docid for r in p.docs.select("docid").collect())
    assert sorted(all_ids) == list(range(300))
    # per-part stats match the part's own postings
    for p in parts:
        df_spark = p.term_stats.where(F.col("term") == "spark").first()
        if p.max_doc:
            assert df_spark.df == p.max_doc  # 'spark' in every doc


def test_split_parts_are_queryable(big_idx):
    parts = split_index(big_idx, 2)
    whole_docs = {h.docid for h in IndexSearcher(big_idx).search(TermQuery(term="w3"), 300)}
    got = set()
    for p in parts:
        got |= {h.docid for h in IndexSearcher(p).search(TermQuery(term="w3"), 300)}
    assert got == whole_docs and got


def test_split_is_metadata_only(big_idx):
    """The packed filter must be a first_docid range — no unpack in the
    part's packed plan."""
    parts = split_index(big_idx, 2)
    plan = parts[0].packed._jdf.queryExecution().optimizedPlan().toString()
    assert "first_docid" in plan


def test_single_part_is_identity(big_idx):
    (only,) = split_index(big_idx, 1)
    assert only.max_doc == big_idx.max_doc
    assert only.packed.count() == big_idx.packed.count()


def test_split_straddler_blocks_repack_exactly(big_idx):
    """A non-bucket-aligned boundary cuts blocks; the straddlers are
    decoded, range-filtered and repacked so per-part postings are
    exact (count equality with a flat filter proves no loss/dup)."""
    parts = split_index(big_idx, 3)
    whole = big_idx.postings().groupBy("term").count().collect()
    whole_m = {r.term: r["count"] for r in whole}
    merged: dict[str, int] = {}
    for p in parts:
        for r in p.postings().groupBy("term").count().collect():
            merged[r.term] = merged.get(r.term, 0) + r["count"]
    assert merged == whole_m


def test_pk_split_fake_delete_semantics(spark):
    """Split parts return disjoint docs covering the full result set,
    with scores bit-identical to the unsplit index (stats untouched)."""
    from pyspark.sql import functions as F

    from lucenenet_spark.index.builder import CorpusSpec, build_index
    from lucenenet_spark.index.splitter import pk_split
    from lucenenet_spark.search.queries import TermQuery
    from lucenenet_spark.search.searcher import IndexSearcher

    rows = [("r", str(i), "c", "spark table scan" if i % 2 else "spark merge join")
            for i in range(8)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string"
    )
    idx = build_index(
        spark, df, CorpusSpec(order_cols=("repo", "path", "commit"), meta_cols=("path",))
    ).cache()
    full = {h.docid: h.score for h in IndexSearcher(idx).search(TermQuery(term="spark"), 20)}
    p, f = pk_split(idx, F.col("docid") % 2 == 0)
    hp = {h.docid: h.score for h in p.search(TermQuery(term="spark"), 20)}
    hf = {h.docid: h.score for h in f.search(TermQuery(term="spark"), 20)}
    assert set(hp) == {d for d in full if d % 2 == 0}
    assert set(hf) == {d for d in full if d % 2 == 1}
    for d, s in {**hp, **hf}.items():
        assert s == full[d]
