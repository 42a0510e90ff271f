"""Repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 6 --trace 0

Run from the repository root. Prints a detail line (tail percentile,
sample counts, host noise, failures) and then, as the last line of
stdout, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. Everything it writes goes under
``.bench_work/`` in the repository root. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import signal
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
# the engine defaults to an 8g heap; 1g holds the benchmark's sizes
DRIVER_MEMORY = "1g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_env(work: str, cores: int) -> None:
    """Point Spark, its JVMs and the Python workers at ``work``, at
    ``local[cores]``, with progress bars off."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the status store must keep every job of a run for the ledger
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.local.dir": local,
    }
    submit = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in [*submit, "pyspark-shell"]),
    )
    tempfile.tempdir = None  # re-read TMPDIR


def stop_processes() -> None:
    """Stop the JVM this process launched and wait until it and every
    other child (the Python workers) have ended."""
    from pyspark import SparkContext

    from perfbench.stats import descendants

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        # the JVM exits when its stdin closes
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants(os.getpid())
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(1)


def attach_units(values: dict, specs: list[dict]) -> dict:
    """``{name: value}`` -> ``{name: {"value", "unit"}}`` in BENCHMARK.json
    order; the names must be exactly those of ``specs``."""
    names = [s["name"] for s in specs]
    if set(values) != set(names):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: missing {sorted(set(names) - set(values))},"
            f" extra {sorted(set(values) - set(names))}"
        )
    return {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in specs}


def execute(workload: str, seed: int, seconds: float, trace: bool, sizes=None, work: str = WORK):
    """Runs one workload in this process and stops every process it
    started. Returns ``(result, detail)``; raises ImportError when the
    engine is not importable from ``ROOT``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if workload not in {w["name"] for w in bench["workloads"]}:
        raise ValueError(f"unknown workload {workload!r}")
    cores = len(os.sched_getaffinity(0))
    spark_env(work, cores)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import lucenenet_spark  # noqa: F401  (the program under test)

    from perfbench.harness import Sizes, run_workload

    try:
        res = run_workload(workload, seed, seconds, trace, ROOT, work, cores, sizes or Sizes())
    finally:
        stop_processes()
    metrics = attach_units(res["metrics"], bench["per_layer" if trace else "end_to_end"])
    result = {k: res[k] for k in ("correct", "attempted", "failed")}
    result["metrics"] = metrics
    return result, res["detail"]


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        result, detail = execute(args.workload, args.seed, args.seconds, bool(args.trace))
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
