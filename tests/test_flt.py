"""FuzzyLikeThisQuery (Sandbox/Queries/FuzzyLikeThisQuery.cs) — the
pinned flt.py spec: edit-sim² × source-idf boosts, per-source 50-cap,
global max_num_terms cap, clause-order float32 doc scoring."""

from __future__ import annotations

import math

import numpy as np
import pytest

from lucenenet_spark.index.builder import CorpusSpec, build_index
from lucenenet_spark.search.flt import (
    MAX_VARIANTS_PER_TERM,
    fuzzy_like_this_terms,
    fuzzy_like_this_topk,
)
from lucenenet_spark.search.queries import _levenshtein
from lucenenet_spark.search.searcher import IndexSearcher
from lucenenet_spark.streaming import append_batch, delete_docs, load_live


@pytest.fixture(scope="module")
def flt_searcher(spark):
    rows = [
        ("r", "a", "c", "table merge batch"),
        ("r", "b", "c", "tables merge"),
        ("r", "d", "c", "cable stable batch"),
        ("r", "e", "c", "merge sort"),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string"
    )
    idx = build_index(
        spark, df, CorpusSpec(order_cols=("repo", "path", "commit"))
    ).cache()
    return IndexSearcher(idx)


def _expected_variants(searcher, src_terms, min_sim, max_terms):
    stats = {
        r["term"]: int(r["df"])
        for r in searcher.index.term_stats.select("term", "df").collect()
    }
    n = searcher.index.max_doc
    rows = []
    for sidx, s in enumerate(src_terms):
        kept = []
        for t in sorted(stats):
            d = _levenshtein(t, s)
            sim = np.float32(1.0) - np.float32(d) / np.float32(min(len(t), len(s)))
            if sim > np.float32(min_sim):
                kept.append((t, sim))
        kept.sort(key=lambda p: (-p[1], p[0]))
        kept = kept[:MAX_VARIANTS_PER_TERM]
        if not kept:
            continue
        df_s = stats.get(s, 0)
        if df_s == 0:
            vdfs = [stats[t] for t, _ in kept]
            df_s = sum(vdfs) // len(vdfs)
        idf = np.float32(math.log(n / float(df_s + 1)) + 1.0)
        for t, sim in kept:
            rows.append((t, float(np.float32(np.float32(sim * sim) * idf)), sidx))
    rows.sort(key=lambda r: (-r[1], r[0], r[2]))
    return rows[:max_terms]


def test_rewrite_product_matches_first_principles(flt_searcher):
    got = fuzzy_like_this_terms(flt_searcher, "tabel", 0.4, 0, 10).collect()
    want = _expected_variants(flt_searcher, ["tabel"], 0.4, 10)
    assert [(r["variant"], r["boost"]) for r in got] == [
        (t, b) for t, b, _ in want
    ]
    # distance 1-2 of length-5/6 terms qualify (sim 0.8/0.6); cable and
    # stable sit at distance 3 -> sim exactly 0.4, NOT strictly greater
    assert {r["variant"] for r in got} == {"table", "tables"}


def test_absent_source_uses_avg_variant_df(flt_searcher):
    # 'tabel' is not an index term -> df = integer avg of variant dfs
    got = {r["variant"]: r["boost"] for r in
           fuzzy_like_this_terms(flt_searcher, "tabel", 0.4, 0, 10).collect()}
    stats = {
        r["term"]: int(r["df"])
        for r in flt_searcher.index.term_stats.select("term", "df").collect()
    }
    want = _expected_variants(flt_searcher, ["tabel"], 0.4, 10)
    vdfs = [stats[t] for t, _, _ in want]
    df = sum(vdfs) // len(vdfs)
    idf = np.float32(math.log(flt_searcher.index.max_doc / float(df + 1)) + 1.0)
    lev = _levenshtein("table", "tabel")  # the le<->el swap costs 2
    sim = np.float32(1.0) - np.float32(lev) / np.float32(5)
    assert got["table"] == pytest.approx(
        float(np.float32(np.float32(sim * sim) * idf)), abs=0
    )


def test_prefix_length_filters(flt_searcher):
    got = {r["variant"] for r in
           fuzzy_like_this_terms(flt_searcher, "tabel", 0.4, 2, 10).collect()}
    assert got == {"table", "tables"}  # cable/stable fail prefix 'ta'


def test_max_num_terms_cap(flt_searcher):
    got = fuzzy_like_this_terms(flt_searcher, "tabel", 0.4, 0, 2).collect()
    want = _expected_variants(flt_searcher, ["tabel"], 0.4, 2)
    assert [(r["cidx"], r["variant"]) for r in got] == [
        (i, t) for i, (t, _, _) in enumerate(want)
    ]


def _expected_topk(searcher, query_string, deleted=()):
    """Top-10 (docid, float32 score) from first principles: the
    rewrite's boosts summed per doc in clause order, minus ``deleted``."""
    clauses = fuzzy_like_this_terms(searcher, query_string, 0.4, 0, 10).collect()
    boosts = [(r["cidx"], r["variant"], np.float32(r["boost"])) for r in clauses]
    post = searcher.index.postings().select("docid", "term").collect()
    docs_of = {}
    for r in post:
        docs_of.setdefault(r["term"], set()).add(r["docid"])
    expect: dict[int, np.float32] = {}
    for cidx, term, b in sorted(boosts):
        for d in docs_of.get(term, ()):
            expect[d] = np.float32(expect.get(d, np.float32(0.0)) + b)
    live = [p for p in expect.items() if p[0] not in deleted]
    return sorted(live, key=lambda p: (-p[1], p[0]))[:10]


def test_topk_is_clause_order_f32_fold(flt_searcher):
    got = fuzzy_like_this_topk(flt_searcher, "tabel merge", 0.4, 0, 10, 10).collect()
    want = _expected_topk(flt_searcher, "tabel merge")
    assert [(r["docid"], np.float32(r["score"])) for r in got] == want


def test_topk_skips_tombstoned_docs(spark, tmp_path):
    """On a live index with a delete, the deleted doc leaves the top-k
    and every survivor keeps its clause-order float32 bits (maxDoc and
    the dfs still count the deleted doc, as until a merge)."""
    rows = [
        ("r", "a", "c", "table merge batch"),
        ("r", "b", "c", "tables merge"),
        ("r", "d", "c", "cable stable batch"),
        ("r", "e", "c", "merge sort"),
    ]
    path = str(tmp_path / "live")
    append_batch(
        spark.createDataFrame(rows, "repo string, path string, commit string, content string"),
        path, CorpusSpec(order_cols=("repo", "path", "commit")), batch_id=0,
    )
    victim = _expected_topk(IndexSearcher(load_live(spark, path)[0]), "tabel merge")[0][0]
    delete_docs(spark, path, [victim])
    idx, tombs = load_live(spark, path)
    s = IndexSearcher(idx, tombstones=tombs)
    got = fuzzy_like_this_topk(s, "tabel merge", 0.4, 0, 10, 10).collect()
    want = _expected_topk(s, "tabel merge", deleted={victim})
    assert len(want) == 2
    assert [(r["docid"], np.float32(r["score"]).tobytes()) for r in got] == [
        (d, v.tobytes()) for d, v in want
    ]


def test_per_source_variant_cap(spark):
    # 26*3 single-edit variants of 'aaaa' -> the 50-cap must keep the
    # 50 alphabetically-first (equal sims, pinned term-asc tie-break)
    words = sorted(
        {"aaaa"[:i] + ch + "aaaa"[i + 1 :] for i in range(3) for ch in "bcdefghijklmnopqrstuvwxyz"}
    )
    assert len(words) > MAX_VARIANTS_PER_TERM
    rows = [("r", f"p{i:03d}", "c", w) for i, w in enumerate(words)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string"
    )
    s = IndexSearcher(
        build_index(spark, df, CorpusSpec(order_cols=("repo", "path", "commit"))).cache()
    )
    got = fuzzy_like_this_terms(s, "aaaa", 0.5, 0, 100).collect()
    assert len(got) == MAX_VARIANTS_PER_TERM
    assert [r["variant"] for r in got] == words[:MAX_VARIANTS_PER_TERM]
