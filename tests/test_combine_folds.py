"""Bit tests of the JVM float32 folds: ``combine_boolean_frames`` and
``combine_dismax_frames`` over random clause lists, shuffled across
partitions, against a numpy float32 fold in clause order. The boosts
and tie breakers include values with no short decimal form, so a
literal that turns the fold into DOUBLE arithmetic, or reaches it
rounded other than to float32, changes bits."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import types as T

from lucenenet_spark.search.searcher import combine_boolean_frames, combine_dismax_frames

AWKWARD = (1.0, 0.1, 1 / 3, 1e-30, 3.4e38)
N_DOCS, N_CLAUSES = 80, 6


def _scores(rng, n, signed=False):
    """float32 scores over seven decades, so the fold order matters."""
    s = rng.uniform(0.0, 1.0, n) * 10.0 ** rng.integers(-3, 4, n)
    if signed:
        s *= rng.choice((-1.0, 1.0), n)
    return s.astype(np.float32)


def _clause_rows(rng, kinds, signed=False):
    """(docid, cidx, kind, score) rows: each doc matches a random subset
    of the clauses, rows in random order."""
    rows = []
    for d in range(N_DOCS):
        cidx = rng.choice(len(kinds), size=rng.integers(1, len(kinds) + 1), replace=False)
        for c, s in zip(cidx, _scores(rng, len(cidx), signed)):
            rows.append((d, int(c), kinds[c], float(s)))
    rng.shuffle(rows)
    return rows


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "docid long, cidx int, kind int, score float"
    ).repartition(3)


def _f32_sum(scores):
    acc = np.float32(0.0)
    for s in scores:
        acc = np.float32(acc + s)
    return acc


def _by_doc(rows):
    docs: dict[int, list] = {}
    for d, c, k, s in rows:
        docs.setdefault(d, []).append((c, k, np.float32(s)))
    return {d: sorted(v) for d, v in docs.items()}


def _bits(df):
    assert df.schema["score"].dataType == T.FloatType(), df.schema
    return {r.docid: np.float32(r.score).tobytes() for r in df.collect()}


@pytest.mark.parametrize("boost", AWKWARD)
def test_boolean_fold_bits(spark, boost):
    rng = np.random.default_rng(7)
    kinds = [1, 0, 0, 1, -1, 0]
    n_must, required_should = 2, 1
    rows = _clause_rows(rng, kinds)
    want = {}
    with np.errstate(over="ignore"):
        for d, cs in _by_doc(rows).items():
            ks = [k for _, k, _ in cs]
            if ks.count(1) == n_must and ks.count(0) >= required_should and -1 not in ks:
                acc = _f32_sum([s for _, k, s in cs if k >= 0])
                want[d] = np.float32(acc * np.float32(boost)).tobytes()
    got = _bits(combine_boolean_frames(_frame(spark, rows), n_must, required_should, boost))
    assert want and got == want


@pytest.mark.parametrize(
    "tie,boost",
    [(t, 1.0) for t in AWKWARD] + [(0.1, 1 / 3), (1 / 3, 0.1), (0.0, 1e-30), (1 / 3, 3.4e38)],
)
def test_dismax_fold_bits(spark, tie, boost):
    rng = np.random.default_rng(11)
    rows = _clause_rows(rng, [0] * N_CLAUSES, signed=True)
    want = {}
    t32, b32 = np.float32(tie), np.float32(boost)
    with np.errstate(over="ignore", invalid="ignore"):
        for d, cs in _by_doc(rows).items():
            scores = [s for _, _, s in cs]
            acc = _f32_sum(scores)
            mx = max(max(scores), np.float32(0.0))
            want[d] = np.float32(np.float32(mx + np.float32(acc - mx) * t32) * b32).tobytes()
    got = _bits(combine_dismax_frames(_frame(spark, rows).drop("kind"), tie, boost))
    assert got == want
