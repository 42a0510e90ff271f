"""The vectorized 2-distinct-slot sloppy frequency must match the
faithful PQ walk (``_freq_2pp``) BIT-FOR-BIT on every document — the
closed form (tag-change boundary gaps of the merged adjusted
sequence) and the float32 fold order are both pinned here."""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from lucenenet_spark.functions.sloppy import (
    sloppy_freq_2slot_encoded,
    sloppy_phrase_freq,
)

SHIFT = np.int64(1) << np.int64(32)


def _reference(docs, r0, r1, slop):
    """Per-doc faithful walk over the same inputs."""
    out = {}
    for docid, (p0, p1) in docs.items():
        if not p0 or not p1:
            continue
        f = sloppy_phrase_freq(
            [np.array(sorted(p0), dtype=np.int64), np.array(sorted(p1), dtype=np.int64)],
            slop,
            offsets=[r0, r1],
            term_keys=[("t0",), ("t1",)],
        )
        if f > 0:
            out[docid] = np.float32(f)
    return out


def _encoded(docs, slot):
    ks = [
        np.int64(d) * SHIFT + np.int64(p)
        for d, (p0, p1) in sorted(docs.items())
        for p in sorted((p0, p1)[slot])
    ]
    return np.array(ks, dtype=np.int64) if ks else np.empty(0, dtype=np.int64)


@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=40),
        st.tuples(
            st.lists(st.integers(min_value=0, max_value=30), max_size=8, unique=True),
            st.lists(st.integers(min_value=0, max_value=30), max_size=8, unique=True),
        ),
        max_size=12,
    ),
    st.integers(min_value=0, max_value=6),
    st.integers(min_value=0, max_value=3),
)
@settings(max_examples=300, deadline=None)
def test_vec_matches_walk(docs, slop, r1_extra):
    r0, r1 = 0, 1 + r1_extra
    exp = _reference(docs, r0, r1, slop)
    got_docs, got_freqs = sloppy_freq_2slot_encoded(
        _encoded(docs, 0), _encoded(docs, 1), r0, r1, slop
    )
    got = {int(d): f for d, f in zip(got_docs, got_freqs)}
    assert set(got) == set(exp)
    for d in exp:
        # bit-for-bit float32 equality — fold order is pinned
        assert np.float32(got[d]).tobytes() == exp[d].tobytes(), (
            d, got[d], exp[d], docs[d])


def test_dense_sweep():
    """Exhaustive small-universe sweep: every subset pair over a
    5-position universe, slop 0..4."""
    import itertools

    uni = range(5)
    subsets = [list(c) for r in range(0, 4) for c in itertools.combinations(uni, r)]
    for slop in range(5):
        for p0 in subsets:
            for p1 in subsets:
                docs = {7: (p0, p1)}
                exp = _reference(docs, 0, 1, slop)
                gd, gf = sloppy_freq_2slot_encoded(
                    _encoded(docs, 0), _encoded(docs, 1), 0, 1, slop
                )
                got = {int(d): f for d, f in zip(gd, gf)}
                assert set(got) == set(exp), (p0, p1, slop)
                for d in exp:
                    assert np.float32(got[d]).tobytes() == exp[d].tobytes(), (
                        p0, p1, slop)


def test_multi_doc_isolation():
    """Positions at doc-lane edges must never bleed across docids
    (the GUARD offset protects raw_pos - offset underflow)."""
    docs = {0: ([0], [0]), 1: ([0], [1]), 2: ([5], [0])}
    r0, r1 = 0, 1
    exp = _reference(docs, r0, r1, 4)
    gd, gf = sloppy_freq_2slot_encoded(
        _encoded(docs, 0), _encoded(docs, 1), r0, r1, 4
    )
    got = {int(d): f for d, f in zip(gd, gf)}
    assert set(got) == set(exp)
    for d in exp:
        assert np.float32(got[d]).tobytes() == exp[d].tobytes()


@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=40),
        st.tuples(
            st.lists(st.integers(min_value=0, max_value=700), max_size=8, unique=True),
            st.lists(st.integers(min_value=0, max_value=700), max_size=8, unique=True),
        ),
        max_size=8,
    ),
    st.integers(min_value=0, max_value=600),
    st.integers(min_value=0, max_value=600),
    st.sampled_from([0, 1, 3, 255, 256, 257, 400, 1000]),
)
@example(docs={0: ([0], [1])}, r0=0, r1=300, slop=400)  # one match, freq 1/300
@settings(max_examples=300, deadline=None)
def test_vec_matches_walk_any_offsets(docs, r0, r1, slop):
    """Offsets drawn independently — r0 > r1, equal, and at or above
    256 — must still match the walk bit-for-bit (the adjusted-position
    guard is derived from the offsets, not a fixed lane margin)."""
    exp = _reference(docs, r0, r1, slop)
    gd, gf = sloppy_freq_2slot_encoded(
        _encoded(docs, 0), _encoded(docs, 1), r0, r1, slop
    )
    got = {int(d): f for d, f in zip(gd, gf)}
    assert set(got) == set(exp)
    for d in exp:
        assert np.float32(got[d]).tobytes() == exp[d].tobytes(), (d, r0, r1, slop)

