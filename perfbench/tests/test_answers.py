"""The answer checks: a wrong answer, a corrupted golden, a batched pass
that disagrees, and the oracle-side span_near row count."""

import copy

import numpy as np

from perfbench import answers
from perfbench.answers import Ledger, verify

HITS = [answers.hit_key(7, 1.25), answers.hit_key(3, 0.5)]
GOLDEN = {"term_head": [list(h) for h in HITS], "term_rare": [], answers.SPAN_NEAR: 4}
RESULTS = {"term_head": [HITS, HITS], "term_rare": [[]], answers.SPAN_NEAR: [4]}


def _check(results=RESULTS, batched=({"term_head": HITS},), golden=GOLDEN) -> Ledger:
    ledger = Ledger()
    verify(ledger, results, list(batched), golden)
    return ledger


def test_matching_answers_pass():
    ledger = _check()
    assert (ledger.attempted, ledger.failed) == (5, 0)


def test_corrupted_golden_registers_failed_ops():
    bad = copy.deepcopy(GOLDEN)
    bad["term_head"][1][1] ^= 1  # one ulp off in the second hit's score
    ledger = _check(golden=bad)
    assert ledger.failed == 3  # both timed samples of term_head and the batched pass
    assert [f.split(":")[0] for f in ledger.failures] == ["query term_head"] * 2 + ["search_many"]


def test_wrong_span_row_count_fails():
    bad = dict(GOLDEN, **{answers.SPAN_NEAR: 5})
    assert _check(golden=bad).failed == 1


def test_search_many_must_match_the_golden_answers():
    assert _check(batched=[{"term_head": HITS[:1]}]).failed == 1
    # a query with hits that the batched pass dropped
    assert _check(batched=[{}]).failed == 1
    # a query without hits may be absent from the batched rows
    assert _check(batched=[{"term_head": HITS}]).failed == 0
    # checked even when the run timed no single queries
    assert _check(results={}, batched=[{"term_head": HITS}]).failed == 0
    assert _check(results={}, batched=[{"term_head": HITS[::-1]}]).failed == 1


def test_hit_key_is_float32_bits():
    assert answers.hit_key(1, 0.1) == (1, int(np.float32(0.1).view(np.uint32)))
    assert answers.hit_key(1, 0.1) != answers.hit_key(1, float(np.nextafter(np.float32(0.1), np.float32(1))))


def test_span_near_docs_from_oracle_positions():
    from lucenenet_spark.oracle import build_oracle_index

    index = build_oracle_index(
        [
            "return value",  # gap 1
            "return x y z value",  # gap 4: beyond slop 2
            "value return",  # out of order
            "return a b value",  # stopword keeps its position: gap 3
            "return",
        ]
    )
    assert answers.span_near_docs(index) == 2
