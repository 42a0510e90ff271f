"""The posting codec: the build, compaction and the splitter write
blocks through one packer (``postings.pack_blocks``), so a rewritten
block is byte-identical to a built one, payloads included."""

from __future__ import annotations

import os

import numpy as np
import pytest

from lucenenet_spark.index.builder import CorpusSpec, build_index, read_segments
from lucenenet_spark.index.compaction import compact_shards
from lucenenet_spark.index.postings import PACKED_SCHEMA, repack_postings
from lucenenet_spark.index.splitter import split_index
from lucenenet_spark.search.payloads import payload_term_query, span_payload_check
from lucenenet_spark.search.searcher import IndexSearcher
from lucenenet_spark.streaming import append_batch, delete_docs, load_live

PAYLOAD_SPEC = CorpusSpec(
    text_col="content", order_cols=("repo", "path", "commit"), payload_delim="|"
)
WORDS = ("spark", "merge", "table", "scan", "join")


def _payload_rows(n: int, salt: int) -> list[tuple]:
    rows = []
    for i in range(n):
        toks = [
            f"{WORDS[(i * 7 + j + salt) % len(WORDS)]}|{((i + j + salt) % 9) * 0.25 + 0.5}"
            if (i + j) % 3 else WORDS[(i + j) % len(WORDS)]
            for j in range(3 + (i + salt) % 5)
        ]
        rows.append(("r", f"p{salt}_{i:04d}", "c", " ".join(toks)))
    return rows


def _blocks(packed) -> list[tuple]:
    cols = [f.name for f in PACKED_SCHEMA.fields]
    return sorted(
        (tuple(r[c] for c in cols) for r in packed.collect()),
        key=lambda r: (r[0], r[1], r[2]),
    )


def _bits(df) -> dict:
    return {r["docid"]: np.float32(r["score"]).tobytes() for r in df.collect()}


@pytest.mark.parametrize("payloads", [False, True])
def test_repack_of_a_one_partition_build_is_byte_identical(spark, payloads):
    """Dense docids (several 128-doc blocks in bucket 0) plus sparse
    ones across later buckets, built as ONE partition: every block row
    rewritten from the flat postings equals the built one byte for
    byte — metadata, docids, freqs, norms, positions and payloads."""
    ids = list(range(300)) + [20_000 + 37 * i for i in range(300)]
    rows = [
        (d, " ".join(
            f"{WORDS[(d + j) % len(WORDS)]}|{(d % 7) * 0.5}" if payloads
            else WORDS[(d * j + j) % len(WORDS)]
            for j in range(1 + d % 6)
        ))
        for d in ids
    ]
    corpus = spark.createDataFrame(rows, "id long, content string").coalesce(1)
    spec = CorpusSpec(
        text_col="content", id_col="id", payload_delim="|" if payloads else None
    )
    idx = build_index(spark, corpus, spec)
    built = _blocks(idx.packed)
    assert len({r[1] for r in built}) > 1 and max(r[5] for r in built) == 128
    assert all((r[-1] is not None) == payloads for r in built)
    assert _blocks(repack_postings(idx.postings(payloads=payloads))) == built


@pytest.fixture()
def payload_warehouse(spark, tmp_path):
    path = str(tmp_path / "payload_wh")
    for bid in range(2):
        append_batch(
            spark.createDataFrame(
                _payload_rows(40, bid),
                "repo string, path string, commit string, content string",
            ),
            path, PAYLOAD_SPEC, batch_id=bid,
        )
    return path


def test_compaction_keeps_payloads(spark, payload_warehouse):
    """Compaction rewrites payload blocks through the build's packer:
    every payload query answers with the same float32 bits after the
    merge (no deletes, so the collection stats are unchanged too)."""
    s = IndexSearcher(load_live(spark, payload_warehouse)[0])
    queries = {
        "avg": lambda s: payload_term_query(s, "spark", None),
        "max": lambda s: payload_term_query(s, "merge", None, fn="max"),
        "factor": lambda s: payload_term_query(
            s, "table", None, include_span_score=False
        ),
        "check": lambda s: span_payload_check(s, "scan", 1.5).selectExpr(
            "docid", "CAST(n_spans AS FLOAT) AS score"
        ),
    }
    before = {name: _bits(q(s)) for name, q in queries.items()}
    assert all(before.values())
    compact_shards(spark, payload_warehouse)
    idx, _ = load_live(spark, payload_warehouse)
    after = IndexSearcher(idx)
    assert {name: _bits(q(after)) for name, q in queries.items()} == before
    assert idx.packed.where("payloads_enc IS NULL").count() == 0


def test_compaction_drops_deleted_payload_postings(spark, payload_warehouse):
    idx, _ = load_live(spark, payload_warehouse)
    victim = sorted(_bits(payload_term_query(IndexSearcher(idx), "spark", None)))[0]
    delete_docs(spark, payload_warehouse, [victim])
    compact_shards(spark, payload_warehouse)
    idx, tombs = load_live(spark, payload_warehouse)
    assert tombs is None
    assert idx.postings(docids=[victim]).count() == 0
    factors = _bits(payload_term_query(IndexSearcher(idx), "spark", None,
                                       include_span_score=False))
    assert factors and victim not in factors


def test_split_keeps_payloads(spark, payload_warehouse):
    """Split boundaries that cut payload blocks: the parts' payload
    factors (independent of each part's collection stats) and their
    positions and payloads together equal the whole index's."""
    idx, _ = load_live(spark, payload_warehouse)
    whole = IndexSearcher(idx)

    def factors(s):
        return _bits(payload_term_query(s, "spark", None, include_span_score=False))

    def flat(i):
        return sorted(
            (r.docid, r.term, list(r.positions), list(r.payloads))
            for r in i.postings(payloads=True).collect()
        )

    parts = split_index(idx, 3)
    got, got_flat = {}, []
    for p in parts:
        got.update(factors(IndexSearcher(p)))
        got_flat += flat(p)
    assert got == factors(whole) and got
    assert sorted(got_flat) == flat(idx)


def test_payload_free_compaction_writes_null_payloads(spark, corpus_rows, tmp_path):
    path = str(tmp_path / "plain_wh")
    spec = CorpusSpec(text_col="content", order_cols=("repo", "path", "commit"))
    for bid, lo in enumerate((0, 50)):
        append_batch(spark.createDataFrame(corpus_rows[lo:lo + 50]), path, spec, batch_id=bid)
    rec = compact_shards(spark, path)
    blocks = read_segments(spark, [os.path.join(path, "shards", str(rec["shard"]))]).where(
        "term IS NOT NULL"
    )
    assert blocks.count() > 0
    assert blocks.where("payloads_enc IS NOT NULL").count() == 0
