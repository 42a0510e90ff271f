"""Sloppy-phrase frequency — faithful port of the reference's
priority-queue repositioning algorithm (``Search/SloppyPhraseScorer.cs``,
``Search/PhraseQueue.cs``), replacing the round-1 greedy
minimal-window approximation whose repeated-term corner cases diverged.

Semantics reimplemented (not translated) from the reference:

- One PhrasePosition (pp) per query slot, walking that term's position
  list with the slot's query offset subtracted
  (``pp.position = tp.position - offset`` — an exact match is all pps
  at the same adjusted position).
- A min-heap ordered by (position, offset, ord)
  (``PhraseQueue.cs`` LessThan) always advances the least pp;
  ``end`` tracks the largest adjusted position seen.
- A match is emitted when the just-advanced pp overshoots the queue
  head (``pp.position > next``): its length is ``end - popped.position``
  minimized while the popped pp stayed least; a length ``L <= slop``
  contributes ``1/(1+L)`` (``Similarity.SloppyFreq``) to the float32
  frequency. One final check when a pp exhausts
  (``SloppyPhraseScorer.cs:102-146``).
- REPEATED TERMS (``"A A A"``, ``"drug x drug"``): pps of the same term
  form repeat groups sorted by offset; at init the j-th member is
  advanced j extra positions so no two start on the same term position
  (``AdvanceRepeatGroups``), and whenever an advance makes two group
  members collide on the same underlying term position, the LESSER one
  (by position then offset) is advanced until the collision clears,
  re-queuing any in-queue members whose positions moved
  (``AdvanceRpts`` / ``Collide`` / ``Lesser``). This is what makes
  "A A"~0 not match a single "A", and caps the frequency (LUCENE-3215
  infinite-freq bugs are the regression tests).

Multi-term-per-slot repeats (MultiPhraseQuery with a term repeated
across slots — ``hasMultiTermRpts``) are NOT ported: the engine's
MultiPhraseQuery merges each slot's alternatives into one position
union first, which matches the reference except when alternatives
repeat across slots (documented divergence).
"""

from __future__ import annotations

import heapq

import numpy as np


class _PP:
    """One phrase position: a cursor over a slot's raw term positions,
    exposing the offset-adjusted position."""

    __slots__ = ("arr", "i", "offset", "ord", "pos", "rpt_group", "rpt_ind")

    def __init__(self, arr: np.ndarray, offset: int, ord_: int):
        self.arr = arr
        self.offset = int(offset)
        self.ord = ord_
        self.i = 0
        self.pos = int(arr[0]) - self.offset
        self.rpt_group = -1
        self.rpt_ind = -1

    def next_position(self) -> bool:
        self.i += 1
        if self.i >= len(self.arr):
            return False
        self.pos = int(self.arr[self.i]) - self.offset
        return True

    def tp_pos(self) -> int:
        return self.pos + self.offset

    def heap_key(self):
        return (self.pos, self.offset, self.ord)


def _freq_2pp(
    a: np.ndarray, b: np.ndarray, oa: int, ob: int, slop: int
) -> np.float32:
    """Heap-free specialization of the PQ walk for exactly TWO distinct
    slots — the dominant case (every two-term sloppy phrase). Emits the
    identical match sequence as the generic walk (a 2-element priority
    queue is one comparison), folds 1/(1+L) in the same float32 order."""
    na, nb = len(a), len(b)
    ia = ib = 0
    pa = int(a[0]) - oa
    pb = int(b[0]) - ob
    end = pa if pa > pb else pb
    # pop the lesser by (pos, offset, ord); ord(a)=0 < ord(b)=1
    cur_is_a = (pa, oa, 0) < (pb, ob, 1)
    if cur_is_a:
        cur_pos, nxt = pa, pb
    else:
        cur_pos, nxt = pb, pa
    match_length = end - cur_pos
    lengths: list[int] = []
    while True:
        if cur_is_a:
            ia += 1
            if ia >= na:
                break
            cur_pos = int(a[ia]) - oa
        else:
            ib += 1
            if ib >= nb:
                break
            cur_pos = int(b[ib]) - ob
        if cur_pos > end:
            end = cur_pos
        if cur_pos > nxt:
            if match_length <= slop:
                lengths.append(match_length)
            # push cur, pop lesser of {cur, other}
            if cur_is_a:
                if (cur_pos, oa, 0) < (nxt, ob, 1):
                    pass  # cur stays popped
                else:
                    cur_is_a = False
                    cur_pos, nxt = nxt, cur_pos
            else:
                if (cur_pos, ob, 1) < (nxt, oa, 0):
                    pass
                else:
                    cur_is_a = True
                    cur_pos, nxt = nxt, cur_pos
            match_length = end - cur_pos
        else:
            ml2 = end - cur_pos
            if ml2 < match_length:
                match_length = ml2
    if match_length <= slop:
        lengths.append(match_length)
    freq = np.float32(0.0)
    one = np.float32(1.0)
    for L in lengths:
        freq = np.float32(freq + np.float32(one / np.float32(L + 1)))
    return freq


def sloppy_phrase_freq(
    positions: list[np.ndarray],
    slop: int,
    offsets: list[int] | None = None,
    term_keys: list | None = None,
) -> np.float32:
    """float32 sloppy frequency for one document.

    ``positions``: per query slot, that slot's RAW term positions in
    the doc (sorted ascending). ``offsets``: the slot's query position
    (default 0..n-1). ``term_keys``: slots with equal keys are the SAME
    term (repeat groups); default = all distinct.
    """
    k = len(positions)
    if k == 0:
        return np.float32(0.0)
    offs = list(offsets) if offsets is not None else list(range(k))
    keys = list(term_keys) if term_keys is not None else list(range(k))
    if (
        k == 2
        and keys[0] != keys[1]
        and len(positions[0]) > 0
        and len(positions[1]) > 0
    ):
        return _freq_2pp(positions[0], positions[1], offs[0], offs[1], slop)
    pps = [
        _PP(np.asarray(p, dtype=np.int64), o, i)
        for i, (p, o) in enumerate(zip(positions, offs))
    ]
    if any(len(pp.arr) == 0 for pp in pps):
        return np.float32(0.0)
    if k == 1:  # degenerate (real 1-term phrases rewrite to TermQuery)
        acc = np.float32(0.0)
        for _ in range(len(pps[0].arr)):
            acc = np.float32(acc + np.float32(1.0))
        return acc

    # ---- repeat groups: same term at several query offsets
    by_key: dict = {}
    for pp in pps:
        by_key.setdefault(keys[pp.ord], []).append(pp)
    rpt_groups = [
        sorted(g, key=lambda p: p.offset) for g in by_key.values() if len(g) > 1
    ]
    for gi, rg in enumerate(rpt_groups):
        for j, pp in enumerate(rg):
            pp.rpt_group = gi
            pp.rpt_ind = j

    state = {"end": -(1 << 62)}

    def advance_pp(pp: _PP) -> bool:
        if not pp.next_position():
            return False
        if pp.pos > state["end"]:
            state["end"] = pp.pos
        return True

    # init: j-th member of each group advanced j extra positions so the
    # group starts collision-free (AdvanceRepeatGroups, non-MTP case)
    for rg in rpt_groups:
        for j in range(1, len(rg)):
            for _ in range(j):
                if not rg[j].next_position():
                    return np.float32(0.0)

    for pp in pps:
        if pp.pos > state["end"]:
            state["end"] = pp.pos

    heap: list = [(pp.heap_key(), pp) for pp in pps]
    heapq.heapify(heap)

    def collide(pp: _PP) -> int:
        tp = pp.tp_pos()
        for other in rpt_groups[pp.rpt_group]:
            if other is not pp and other.tp_pos() == tp:
                return other.rpt_ind
        return -1

    def lesser(a: _PP, b: _PP) -> _PP:
        if a.pos < b.pos or (a.pos == b.pos and a.offset < b.offset):
            return a
        return b

    def advance_rpts(pp: _PP) -> bool:
        if pp.rpt_group < 0:
            return True
        rg = rpt_groups[pp.rpt_group]
        k0 = pp.rpt_ind
        moved: set[int] = set()
        while True:
            kk = collide(pp)
            if kk < 0:
                break
            pp = lesser(pp, rg[kk])
            if not advance_pp(pp):
                return False
            if kk != k0:
                moved.add(kk)
        # re-queue members whose positions changed while in the heap:
        # pop until all moved ones are out, then push everything back
        stack = []
        grp = pp.rpt_group
        while moved:
            _, pp2 = heapq.heappop(heap)
            stack.append(pp2)
            if pp2.rpt_group == grp and pp2.rpt_ind in moved:
                moved.discard(pp2.rpt_ind)
        for pp2 in reversed(stack):
            heapq.heappush(heap, (pp2.heap_key(), pp2))
        return True

    has_rpts = bool(rpt_groups)
    freq = np.float32(0.0)
    _, pp = heapq.heappop(heap)
    match_length = state["end"] - pp.pos
    next_pos = heap[0][1].pos
    while advance_pp(pp):
        if has_rpts and not advance_rpts(pp):
            break
        if pp.pos > next_pos:  # done minimizing the current match
            if match_length <= slop:
                freq = np.float32(
                    freq + np.float32(np.float32(1.0) / np.float32(match_length + 1))
                )
            heapq.heappush(heap, (pp.heap_key(), pp))
            _, pp = heapq.heappop(heap)
            next_pos = heap[0][1].pos
            match_length = state["end"] - pp.pos
        else:
            ml2 = state["end"] - pp.pos
            if ml2 < match_length:
                match_length = ml2
    if match_length <= slop:
        freq = np.float32(
            freq + np.float32(np.float32(1.0) / np.float32(match_length + 1))
        )
    return freq


def sloppy_freq_2slot_encoded(
    u0: np.ndarray,
    u1: np.ndarray,
    r0: int,
    r1: int,
    slop: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized 2-distinct-slot sloppy frequency over DOC-ENCODED
    position arrays (``docid * 2^32 + raw_position``, sorted) — the
    whole bucket's docs in one numpy pass, no per-doc Python.

    Closed form of the 2-pp PQ walk (:func:`_freq_2pp`), derived from
    the walk's invariants (``end == nxt`` throughout every stay; a
    strict overshoot ends a stay and emits its minimal ``end - cur``;
    an element equal to ``nxt`` absorbs into the stay) and
    property-tested bit-for-bit against the walk over randomized and
    exhaustive inputs (``tests/test_sloppy_vec.py``):

    Per doc, merge the two adjusted position lists into DISTINCT-value
    events tagged A, B, or BOTH (both slots at the same adjusted
    position — an exact-phrase site). Walk a "resident side"
    automaton in value order:

    - the resident starts as the heap tie-break winner (smaller
      (offset, ord));
    - a BOTH event always emits match length 0 and FLIPS the resident;
    - a single-tag event T emits ``v - prev_event_value`` iff
      ``T != resident`` (a crossing), and sets resident to T; the
      first real event of a doc never emits as a single.

    So the resident before any event = (last single tag, seeded with
    the tie-break winner) XOR (parity of BOTH events since) — which
    makes the whole automaton computable with sorts, forward fills and
    cumsums, no per-doc Python.

    Returns ``(docids, freqs_f32)`` for docs with freq > 0, docids
    ascending; the float32 fold order (event order per doc) matches
    the walk bit-for-bit (round-k masked accumulation).
    """
    # raw_pos - offset + GUARD stays >= 0 for every raw_pos >= 0, so an
    # adjusted key never borrows from the doc bits above its lane
    GUARD = np.int64(max(r0, r1))
    SHIFT = np.int64(32)
    MASK = (np.int64(1) << SHIFT) - np.int64(1)
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32))
    if u0.size == 0 or u1.size == 0:
        return empty
    a = np.asarray(u0, dtype=np.int64) - np.int64(r0) + GUARD
    b = np.asarray(u1, dtype=np.int64) - np.int64(r1) + GUARD
    winner = 0 if (r0, 0) < (r1, 1) else 1

    # ---- events: distinct adjusted keys, tag 0/1 single or BOTH
    both = np.intersect1d(a, b, assume_unique=True)
    keys = np.union1d(a, b)  # sorted distinct event keys
    is_both = np.zeros(keys.size, dtype=bool)
    if both.size:
        is_both[np.searchsorted(keys, both)] = True
    in_a = np.zeros(keys.size, dtype=bool)
    in_a[np.searchsorted(keys, a)] = True
    tag = np.where(in_a, 0, 1).astype(np.int8)  # singles only meaningful

    doc = keys >> SHIFT
    n = keys.size
    first_of_doc = np.empty(n, dtype=bool)
    first_of_doc[0] = True
    np.not_equal(doc[1:], doc[:-1], out=first_of_doc[1:])

    # ---- resident before each event: last single tag (seeded with
    # the tie-break winner at each doc start) XOR parity of BOTH
    # events since that single
    ev = np.arange(n, dtype=np.int64)
    is_single = ~is_both
    # forward-fill of the last PRIOR single's index, doc-seeded:
    # doc starts reset the fill to a virtual winner-tagged single
    marker = np.where(is_single, ev, -1)
    marker = np.where(first_of_doc, ev, marker)  # doc start acts as seed
    last_idx = np.maximum.accumulate(marker)
    # index of the last single AT OR BEFORE i, but resident_before(i)
    # must exclude i itself — shift by one within the doc
    prev_last_idx = np.empty(n, dtype=np.int64)
    prev_last_idx[0] = -1
    prev_last_idx[1:] = last_idx[:-1]
    seeded = first_of_doc | (prev_last_idx < 0)
    # prev_last_idx points at a single or a doc-start event (markers
    # mark nothing else). Tag of that anchor: a real single's own tag;
    # a doc-start BOTH acts as a winner-tagged virtual single whose
    # BOTH must still count in the parity below.
    pl = np.maximum(prev_last_idx, 0)
    last_is_start_both = (~seeded) & first_of_doc[pl] & is_both[pl]
    base_tag = np.where(
        seeded | last_is_start_both, np.int8(winner), tag[pl]
    ).astype(np.int8)

    # BOTH events strictly between the anchor and event i (anchor's
    # own BOTH included when the anchor is a doc-start BOTH)
    cb = np.cumsum(is_both.astype(np.int64))
    cb_prev = np.empty(n, dtype=np.int64)
    cb_prev[0] = 0
    cb_prev[1:] = cb[:-1]
    cb_at_last = cb[pl] - last_is_start_both.astype(np.int64)
    n_both_since = np.where(seeded, 0, cb_prev - cb_at_last)
    resident = (base_tag.astype(np.int64) ^ (n_both_since & 1)).astype(np.int8)

    # ---- emissions
    prev_val = np.empty(n, dtype=np.int64)
    prev_val[0] = 0
    prev_val[1:] = keys[:-1] & MASK
    gap_single = (keys & MASK) - prev_val
    emit_single = is_single & (~first_of_doc) & (tag != resident)
    emit = is_both | emit_single
    gaps = np.where(is_both, np.int64(0), gap_single)
    keep = emit & (gaps <= np.int64(slop))
    if not keep.any():
        return empty
    docs_all = doc[keep]  # ascending, event order within doc
    lens = gaps[keep]
    # per-doc ordered float32 fold: round-k masked accumulation — the
    # k-th emission of every doc added in one vectorized f32 op, so
    # each doc's fold order (and bit pattern) matches the walk
    udocs, starts, counts = np.unique(
        docs_all, return_index=True, return_counts=True
    )
    freqs = np.zeros(udocs.size, dtype=np.float32)
    one = np.float32(1.0)
    kmax = int(counts.max())
    for k in range(kmax):
        m = counts > k
        contrib = one / (lens[starts[m] + k] + 1).astype(np.float32)
        freqs[m] = freqs[m] + contrib.astype(np.float32)
    return udocs, freqs
