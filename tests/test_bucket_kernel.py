"""The shared bucketed positional kernel (``index/postings.py``) and the
phrase and span matchers on top of it must score a bucket the same
wherever it sits in the docid space. Position keys are built from
bucket-LOCAL docids, so a bucket past docid 2^31 (or at 10^12 docs)
gives exactly the (docid - base, score) pairs of bucket 0."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from lucenenet_spark.functions.similarity import BM25Similarity
from lucenenet_spark.functions.varbyte import (
    delta_encode_docids,
    encode_freqs,
    encode_positions,
)
from lucenenet_spark.index.postings import BUCKET_DOCS, bucket_positions
from lucenenet_spark.search.payloads import (
    _near_payload_check_bucket,
    _payload_near_bucket,
)
from lucenenet_spark.search.searcher import _verify_phrase_bucket
from lucenenet_spark.search.spans import (
    SpanNearQuery,
    SpanTermQuery,
    _eval_span_bucket,
    _required_slots,
)

# term -> blocks, each {bucket-local docid: sorted positions}; "a" spans
# two blocks whose docid ranges interleave (two build segments)
BLOCKS = {
    "a": [{3: [0, 4, 9], 4000: [1, 5]}, {70: [2], 8191: [0, 3]}],
    "b": [{3: [1, 6], 70: [7], 200: [0], 4000: [2, 3], 8191: [1]}],
    "c": [{3: [2], 4000: [4, 6], 8191: [2]}],
}
NORMS = {3: 120, 70: 100, 200: 90, 4000: 130, 8191: 110}
# float32 payload per position, by (term, docid); "b" is stored
# without payloads (payloads_enc NULL), so it reads 1.0 everywhere
PAYLOADS = {
    "a": {3: [2.5, 0.5, 4.0], 4000: [1.5, 3.0], 70: [0.25], 8191: [2.0, 6.0]},
    "c": {3: [7.0], 4000: [0.5, 1.25], 8191: [3.5]},
}
SIM = BM25Similarity(np.float32(6.5))
W32 = np.float32(1.75)
HIGH_BUCKETS = [2**31 // BUCKET_DOCS + 5, 10**12 // BUCKET_DOCS]


def _bucket(bucket: int, payloads: bool = False) -> pd.DataFrame:
    base = bucket * BUCKET_DOCS
    rows = []
    for term, blocks in BLOCKS.items():
        for plist in blocks:
            ds = sorted(plist)
            row = {
                "term": term,
                "bucket": bucket,
                "block_id": ds[0],
                "docs_enc": delta_encode_docids(np.array(ds, dtype=np.int64) + base),
                "freqs_enc": encode_freqs(np.array([len(plist[d]) for d in ds])),
                "norms_enc": bytes(NORMS[d] for d in ds),
                "positions_enc": encode_positions([plist[d] for d in ds]),
            }
            if payloads:
                pay = PAYLOADS.get(term)
                row["payloads_enc"] = None if pay is None else np.array(
                    [v for d in ds for v in pay[d]], dtype=np.float32
                ).tobytes()
            rows.append(row)
    return pd.DataFrame(rows)


def _local(df: pd.DataFrame, base: int) -> list[tuple[int, bytes]]:
    col = "score" if "score" in df else "n_spans"
    return sorted(
        (int(d) - base, np.asarray(v).tobytes()) for d, v in zip(df["docid"], df[col])
    )


def _phrase(pdf, terms, rels, slop):
    return _verify_phrase_bucket(pdf, [[t] for t in terms], list(rels), slop, SIM, W32)


def _span(pdf, q, scored):
    return _eval_span_bucket(pdf, q, _required_slots(q), scored, SIM, W32)


CASES = {
    "exact": lambda pdf: _phrase(pdf, ("a", "b"), (0, 1), 0),
    "sloppy_2slot": lambda pdf: _phrase(pdf, ("a", "b"), (0, 1), 2),
    "sloppy_general": lambda pdf: _phrase(pdf, ("a", "b", "c"), (0, 1, 2), 3),
    "span_near_2term": lambda pdf: _span(
        pdf, SpanNearQuery((SpanTermQuery("a"), SpanTermQuery("b")), 1, True), False
    ),
    "span_near_scored": lambda pdf: _span(
        pdf,
        SpanNearQuery(
            (SpanTermQuery("a"), SpanTermQuery("b"), SpanTermQuery("c")), 2, True
        ),
        True,
    ),
    # "payload_*" cases run on the payload-carrying encoding
    "payload_near_avg": lambda pdf: _payload_near_bucket(
        pdf, "a", "c", 3, "avg", SIM, W32
    ),
    "payload_near_max": lambda pdf: _payload_near_bucket(
        pdf, "a", "b", 1, "max", SIM, W32
    ),
    "payload_near_check": lambda pdf: _near_payload_check_bucket(
        pdf, "a", "c", 3, (np.float32(1.5), np.float32(0.5))
    ),
}


@pytest.mark.parametrize("bucket", HIGH_BUCKETS)
@pytest.mark.parametrize("case", sorted(CASES))
def test_bucket_scores_are_docid_base_invariant(case, bucket):
    payloads = case.startswith("payload_")
    low = _local(CASES[case](_bucket(0, payloads)), 0)
    assert low, case  # the fixture must exercise a match
    base = bucket * BUCKET_DOCS
    high = CASES[case](_bucket(bucket, payloads))
    assert (high["docid"] >= base).all() and (high["docid"] < base + BUCKET_DOCS).all()
    assert _local(high, base) == low


def test_kernel_candidates_and_keys_are_bucket_local():
    bucket = HIGH_BUCKETS[1]
    bp = bucket_positions(_bucket(bucket), [["a"], ["b"]])
    assert bp.base == bucket * BUCKET_DOCS
    assert bp.cand.tolist() == [3, 70, 4000, 8191]
    assert bp.norms.tolist() == [NORMS[d] for d in bp.cand]
    # "a" gathers from both of its blocks, merged in key order
    docs = bp.keys["a"] >> np.int64(32)
    pos = bp.keys["a"] & np.int64(0xFFFFFFFF)
    assert list(zip(docs.tolist(), pos.tolist())) == [
        (3, 0), (3, 4), (3, 9), (70, 2), (4000, 1), (4000, 5), (8191, 0), (8191, 3)
    ]
    # doc 200 holds "b" only: it fails the conjunction and is never gathered
    assert 200 not in set((bp.keys["b"] >> np.int64(32)).tolist())
    assert bucket_positions(_bucket(bucket), [["a"], ["zzz"]]) is None


def test_kernel_gathers_payloads_in_key_order():
    bucket = HIGH_BUCKETS[0]
    bp = bucket_positions(_bucket(bucket, payloads=True), [["a"], ["b"]])
    assert bp.base == 2**31 + 40960
    docs = (bp.keys["a"] >> np.int64(32)).tolist()
    # lockstep with the merged keys of "a"'s two interleaved blocks
    want = [v for d in sorted(PAYLOADS["a"]) for v in PAYLOADS["a"][d]]
    assert docs == [d for d in sorted(PAYLOADS["a"]) for _ in PAYLOADS["a"][d]]
    assert bp.payloads["a"].dtype == np.float32
    assert bp.payloads["a"].tolist() == want
    # a block stored without payloads reads 1.0 per position
    assert bp.payloads["b"].tolist() == [1.0] * bp.keys["b"].size
    # the phrase and span callers' groups carry no payload column
    assert bucket_positions(_bucket(bucket), [["a"], ["b"]]).payloads is None
