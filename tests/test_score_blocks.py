"""The term-family reader (``postings.score_blocks``): one batch decode
of docs, freqs and norms, fanned out per clause of a ``{term: [(cidx,
kind, weight)]}`` plan. Checked at the pandas level against a numpy
``sim.score`` reference over randomly encoded blocks, and once through
Spark."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from lucenenet_spark.functions.similarity import BM25Similarity, ClassicSimilarity
from lucenenet_spark.functions.varbyte import delta_encode_docids, encode_freqs
from lucenenet_spark.index.postings import score_batch, score_blocks

DTYPES = {"docid": "int64", "cidx": "int32", "kind": "int32", "score": "float32"}
SIMS = [BM25Similarity(np.float32(7.25)), ClassicSimilarity()]


def _blocks(seed: int = 7):
    """term -> [(docids, freqs, norms)] and the encoded batch of them,
    terms and blocks interleaved as a scan could return them."""
    rng = np.random.default_rng(seed)
    raw, rows = {}, []
    for term in ("a", "b", "c"):
        sizes = rng.integers(1, 129, size=int(rng.integers(1, 4)))
        # a term's blocks hold disjoint docids
        docs = rng.choice(10**6, size=int(sizes.sum()), replace=False).astype(np.int64)
        for d in np.split(docs, np.cumsum(sizes)[:-1]):
            d = np.sort(d)
            f = rng.integers(1, 40, size=d.size)
            nb = rng.integers(0, 256, size=d.size).astype(np.uint8)
            raw.setdefault(term, []).append((d, f, nb))
            rows.append(
                {"term": term, "docs_enc": delta_encode_docids(d),
                 "freqs_enc": encode_freqs(f), "norms_enc": nb.tobytes()}
            )
    order = rng.permutation(len(rows))
    return raw, pd.DataFrame([rows[i] for i in order])


def _reference(raw, plan, sim):
    """(cidx, kind) -> {docid: score bytes} from numpy ``sim.score``."""
    out = {}
    for term, clauses in plan.items():
        for cidx, kind, w in clauses:
            got = out.setdefault((cidx, kind), {})
            for d, f, nb in raw[term]:
                s = sim.score(f.astype(np.float32), nb, np.float32(w))
                got.update(zip(d.tolist(), (x.tobytes() for x in s)))
    return out


def _read(pdf: pd.DataFrame, plan) -> pd.DataFrame:
    """The plan's blocks, as ``read_blocks``' term filter passes them."""
    return pdf[pdf["term"].isin(list(plan))]


def _by_clause(df: pd.DataFrame):
    out = {}
    for d, c, k, s in zip(df["docid"], df["cidx"], df["kind"], df["score"]):
        out.setdefault((int(c), int(k)), {})[int(d)] = np.float32(s).tobytes()
    return out


@pytest.mark.parametrize("sim", SIMS, ids=lambda s: type(s).__name__)
def test_clause_plans_match_numpy_reference(sim):
    raw, pdf = _blocks()
    one = {"b": [(0, 0, 1.5)]}
    three = {"a": [(0, 1, 0.75)], "b": [(1, 0, 1.5), (2, -1, 2.25)]}
    got_one = score_batch(_read(pdf, one), one, sim)
    got_three = score_batch(_read(pdf, three), three, sim)
    for got in (got_one, got_three):
        assert dict(got.dtypes.astype(str)) == DTYPES
    assert len(got_one) == sum(d.size for d, _, _ in raw["b"])
    assert _by_clause(got_one) == _reference(raw, one, sim)
    by_three = _by_clause(got_three)
    assert by_three == _reference(raw, three, sim)
    # the same term and weight scores the same bits in either plan
    assert by_three[(1, 0)] == _by_clause(got_one)[(0, 0)]


def test_no_similarity_gives_constant_weights():
    raw, pdf = _blocks(seed=11)
    plan = {"a": [(0, 0, 0.1)], "c": [(1, 0, 3.0), (2, 0, 0.1)]}
    got = score_batch(_read(pdf, plan)[["term", "docs_enc"]], plan, None)
    assert dict(got.dtypes.astype(str)) == DTYPES
    for (cidx, _), scores in _by_clause(got).items():
        term, w = {0: ("a", 0.1), 1: ("c", 3.0), 2: ("c", 0.1)}[cidx]
        assert set(scores) == {int(x) for d, _, _ in raw[term] for x in d}
        assert set(scores.values()) == {np.float32(w).tobytes()}


@pytest.mark.parametrize("sim", [SIMS[0], None])
def test_empty_batch_has_declared_dtypes(sim):
    _, pdf = _blocks()
    got = score_batch(pdf.iloc[:0], {"a": [(0, 0, 1.0)]}, sim)
    assert got.empty and dict(got.dtypes.astype(str)) == DTYPES


def test_spark_reader_equals_batch(spark):
    raw, pdf = _blocks(seed=3)
    plan = {"a": [(0, 1, 0.75)], "c": [(1, 0, 1.25)]}
    sim = SIMS[0]
    blocks = spark.createDataFrame(pdf).repartition(3)
    got = score_blocks(blocks.where("term IN ('a', 'c')"), plan, sim).toPandas()
    assert _by_clause(got) == _reference(raw, plan, sim)
