"""Tiny-scale runs of the whole benchmark, each in its own process:
every metric BENCHMARK.json names comes out with its unit, and a
corrupted golden shows up as failed operations. About a minute each."""

import glob
import json
import math
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: bool, work: str) -> tuple[dict, dict]:
    code = (
        "import json, sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from perfbench.harness import Sizes\n"
        "from perfbench.run import execute\n"
        f"res, detail = execute({workload!r}, 3, 1, {trace}, "
        f"Sizes(n_docs=300, batch_docs=100), work={work!r})\n"
        "print(json.dumps([res, detail]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=900, cwd=work
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res, detail = json.loads(out.stdout.strip().splitlines()[-1])
    return res, detail


def _assert_emits(res: dict, specs: list[dict]) -> None:
    assert list(res["metrics"]) == [s["name"] for s in specs]
    for s in specs:
        m = res["metrics"][s["name"]]
        assert m["unit"] == s["unit"]
        assert isinstance(m["value"], float) and math.isfinite(m["value"])


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("bench_work"))


def test_untraced_run_emits_every_end_to_end_metric(work):
    res, detail = _run("query_mix", False, work)
    _assert_emits(res, BENCH["end_to_end"])
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert (res["correct"], res["failed"]) == (True, 0), detail["failures"]
    assert res["attempted"] > 0
    assert detail["query_tail"]["samples"] == detail["samples"]["term"] + detail["samples"]["positional"]


def test_corrupted_golden_registers_as_failed_op(work):
    (path,) = glob.glob(os.path.join(work, "golden", "golden_*.json"))
    with open(path) as f:
        golden = json.load(f)
    golden["term_head"][0][1] ^= 1
    with open(path, "w") as f:
        json.dump(golden, f)
    res, detail = _run("query_mix", False, work)
    assert res["correct"] is False
    # one per timed term_head and one for the warm-up search_many pass
    passes = detail["counts"]["query_passes"]
    assert res["failed"] == passes + 1
    assert sorted(f.split(":")[0] for f in detail["failures"]) == (
        ["query term_head"] * passes + ["search_many"]
    )


def test_traced_run_emits_every_per_layer_metric(work):
    res, _detail = _run("live_ingest", True, work)
    _assert_emits(res, BENCH["per_layer"])
    assert res["metrics"]["trace.coverage_ratio"]["value"] >= 0.9
