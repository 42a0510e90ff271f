"""Answer checks: golden top-10 from the pure-Python oracle
(``lucenenet_spark.oracle``), cached on disk, and the comparisons the
benchmark applies to every answer it times."""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np

# Sources whose change can change a golden answer.
GOLDEN_SOURCES = (
    "lucenenet_spark/analysis/analyzer.py",
    "lucenenet_spark/functions/bm25.py",
    "lucenenet_spark/functions/smallfloat.py",
    "lucenenet_spark/functions/sloppy.py",
    "lucenenet_spark/oracle.py",
    "lucenenet_spark/search/queries.py",
    "lucenenet_spark/search/reference_queries.py",
    "lucenenet_spark/sources/synthetic.py",
)

SPAN_NEAR = "span_near"
SPAN_TERMS = ("return", "value")
SPAN_SLOP = 2


def hit_key(docid, score) -> tuple[int, int]:
    """(docid, float32 score bits): the identity the engine must match."""
    return int(docid), int(np.float32(score).view(np.uint32))


def golden_key(root: str, seed: int, n_docs: int) -> str:
    h = hashlib.sha256(f"{seed}:{n_docs}".encode())
    for rel in GOLDEN_SOURCES:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:24]


def span_near_docs(index) -> int:
    """Docs with an in-order ``return`` ... ``value`` pair whose gap
    obeys slop 2, from the oracle's positions. For two single-term
    spans the ordered slop is ``q - p - 1``."""
    a = index.postings.get(SPAN_TERMS[0], {})
    b = index.postings.get(SPAN_TERMS[1], {})
    n = 0
    for d in a.keys() & b.keys():
        pa = np.asarray(a[d][1], dtype=np.int64)
        pb = np.asarray(b[d][1], dtype=np.int64)
        gaps = pb[None, :] - pa[:, None]
        if np.any((gaps >= 1) & (gaps <= SPAN_SLOP + 1)):
            n += 1
    return n


def compute_golden(texts_in_docid_order: list[str], queries: dict, k: int = 10) -> dict:
    from lucenenet_spark.oracle import OracleSearcher, build_oracle_index

    index = build_oracle_index(texts_in_docid_order)
    searcher = OracleSearcher(index)
    out = {name: [list(hit_key(d, s)) for d, s in searcher.search(q, k)] for name, q in queries.items()}
    out[SPAN_NEAR] = span_near_docs(index)
    return out


def load_or_compute_golden(cache_dir: str, key: str, compute) -> dict:
    path = os.path.join(cache_dir, f"golden_{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    golden = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(golden, f)
    os.replace(tmp, path)
    return golden


def matches_golden(hits: list[tuple[int, int]], golden: list) -> bool:
    return [tuple(h) for h in hits] == [tuple(g) for g in golden]


@dataclass
class Ledger:
    """Operations attempted and failed, with the reason for each failure."""

    attempted: int = 0
    failures: list = field(default_factory=list)

    def record(self, op: str, ok: bool, why: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{op}: {why}")
        return ok

    @property
    def failed(self) -> int:
        return len(self.failures)


def verify(ledger: Ledger, results: dict, batched: list[dict], golden: dict) -> None:
    """Records one op per timed answer in ``results`` (query name ->
    answers observed: top-10 hit keys, or the span_near row count) and
    one per ``search_many`` pass in ``batched`` (query name -> top-10),
    all against ``golden``. A pass that equals the golden answers
    equals every per-query answer that does."""
    for name, outs in results.items():
        for out in outs:
            if name == SPAN_NEAR:
                ledger.record(f"query {name}", out == golden[name], f"{out} rows != {golden[name]}")
            else:
                ledger.record(
                    f"query {name}", matches_golden(out, golden[name]), "top-10 differs from the oracle"
                )
    names = set(golden) - {SPAN_NEAR}
    for got in batched:
        bad = sorted(
            n for n in names | set(got) if not matches_golden(got.get(n, []), golden.get(n, []))
        )
        ledger.record("search_many", not bad, f"top-10 differs from the oracle on {bad}")
