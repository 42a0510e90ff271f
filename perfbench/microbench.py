"""Single-threaded timings of the `analysis` and `functions` layers.

Inside Spark these functions run in the Python workers, out of reach
of a driver-side span, so the traced run times them here on seeded
inputs: a sample of the corpus for analysis and encode, and the
``return`` / ``value`` posting blocks read back from the warehouse for
decode, BM25 and sloppy-phrase scoring.
"""

from __future__ import annotations

import time

import numpy as np

from lucenenet_spark.analysis.analyzer import analyze
from lucenenet_spark.functions import bm25
from lucenenet_spark.functions.sloppy import sloppy_freq_2slot_encoded
from lucenenet_spark.functions.varbyte import (
    decode_freqs,
    decode_positions_flat,
    delta_decode_docids,
    docid_deltas,
    gather_ranges,
    position_stream,
    vbyte_encode_concat,
)

BLOCK = 128
MIN_TIMED_S = 0.2


def _rate(tracer, layer: str, name: str, fn, work_per_call: float) -> float:
    """Calls ``fn`` until ``MIN_TIMED_S`` has passed; work per second."""
    calls = 0
    with tracer.span(layer, name):
        t0 = time.perf_counter()
        while True:
            fn()
            calls += 1
            dt = time.perf_counter() - t0
            if dt >= MIN_TIMED_S:
                break
    return work_per_call * calls / dt


def _sample_blocks(texts: list[str]) -> list[list[np.ndarray]]:
    """Per-term position lists of the sample, cut in 128-doc blocks as
    the segment writer cuts them."""
    per_term: dict[str, list[np.ndarray]] = {}
    for text in texts:
        agg: dict[str, list[int]] = {}
        for t, p in analyze(text):
            agg.setdefault(t, []).append(p)
        for t, pos in agg.items():
            per_term.setdefault(t, []).append(np.asarray(pos, dtype=np.int64))
    blocks = []
    for lists in per_term.values():
        for b0 in range(0, len(lists), BLOCK):
            blocks.append(lists[b0 : b0 + BLOCK])
    return blocks


def _decode(blocks) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(docids, freqs, norms, doc-encoded position keys) of all blocks."""
    ds, fs, ns, ks = [], [], [], []
    for docs_enc, freqs_enc, norms_enc, pos_enc in blocks:
        d = delta_decode_docids(docs_enc)
        f = decode_freqs(freqs_enc).astype(np.int64)
        flat, starts = decode_positions_flat(pos_enc, f)
        ks.append((np.repeat(d, f) << np.int64(32)) + gather_ranges(flat, starts, f))
        ds.append(d)
        fs.append(f)
        ns.append(np.frombuffer(norms_enc, dtype=np.uint8))
    return np.concatenate(ds), np.concatenate(fs), np.concatenate(ns), np.concatenate(ks)


def run(tracer, texts: list[str], head_blocks: list, value_blocks: list, max_doc: int, avgdl) -> dict:
    """Returns the analysis.* and functions.* per-layer metrics.

    ``head_blocks`` / ``value_blocks``: ``(docs_enc, freqs_enc,
    norms_enc, positions_enc)`` bytes of every block of the terms
    ``return`` and ``value``."""
    out = {}
    n_tokens = sum(len(analyze(t)) for t in texts)
    out["analysis.analyze_tokens_per_s"] = _rate(
        tracer, "analysis", "analyze", lambda: [analyze(t) for t in texts], n_tokens
    )

    blocks = _sample_blocks(texts)

    def encode():
        doc_streams, freq_streams, pos_streams = [], [], []
        for pl in blocks:
            doc_streams.append(docid_deltas(np.arange(len(pl), dtype=np.int64)))
            freq_streams.append(np.fromiter((len(p) for p in pl), dtype=np.uint64, count=len(pl)))
            pos_streams.append(position_stream(pl))
        return (
            vbyte_encode_concat(doc_streams)
            + vbyte_encode_concat(freq_streams)
            + vbyte_encode_concat(pos_streams)
        )

    enc_mb = sum(len(b) for b in encode()) / 1e6
    out["functions.vbyte_encode_mb_per_s"] = _rate(tracer, "functions", "vbyte_encode", encode, enc_mb)

    n_docs = sum(len(delta_decode_docids(b[0])) for b in head_blocks)

    def doc_freq():
        for docs_enc, freqs_enc, _n, _p in head_blocks:
            delta_decode_docids(docs_enc)
            decode_freqs(freqs_enc)

    out["functions.doc_freq_decode_per_s"] = _rate(
        tracer, "functions", "doc_freq_decode", doc_freq, n_docs
    )

    d_head, f_head, n_head, k_head = _decode(head_blocks)
    cache = bm25.norm_cache(avgdl)
    weight = bm25.term_weight(bm25.idf(len(d_head), max_doc))
    out["functions.bm25_score_per_s"] = _rate(
        tracer, "functions", "bm25_score",
        lambda: bm25.score(f_head, n_head, weight, cache), len(d_head),
    )

    n_pos = int(f_head.sum())

    def pos_decode():
        for docs_enc, freqs_enc, _n, pos_enc in head_blocks:
            f = decode_freqs(freqs_enc).astype(np.int64)
            flat, starts = decode_positions_flat(pos_enc, f)
            gather_ranges(flat, starts, f)

    out["functions.position_decode_per_s"] = _rate(
        tracer, "functions", "position_decode", pos_decode, n_pos
    )

    d_val, _f, _n, k_val = _decode(value_blocks)
    both = np.intersect1d(d_head, d_val)
    u0 = k_head[np.isin(k_head >> np.int64(32), both)]
    u1 = k_val[np.isin(k_val >> np.int64(32), both)]
    out["functions.sloppy_freq_per_s"] = _rate(
        tracer, "functions", "sloppy_freq",
        lambda: sloppy_freq_2slot_encoded(u0, u1, 0, 1, 2), len(both),
    )
    return out
