"""The benchmark's workloads: one process, one Spark session at
``local[nproc]``, one closed-loop client.

Every run executes the same pipeline, so every end-to-end metric is
measured on every workload; the workload decides where the extra work
of its ``--seconds`` window goes:

- set-up: session, corpus generation, then ``SETUP_REPS`` times a bulk
  ``build_index`` + ``save`` into a fresh warehouse and a ``load``,
  then a warm-up of every query type the run times: when it times the
  reference queries (``query_mix`` and every traced run), one
  ``search_many`` pass, checked against the golden answers, and one
  ``span_near``; else the live term and phrase queries;
- query phase (``query_mix``, and every traced run): seeded shuffles
  of the 16 query types, one at a time;
- live phase: seeded micro-batches through ``append_batch``. Each cycle
  tombstones ~1% of the previous batch with ``delete_docs``, appends,
  then twice runs a fresh ``load_live`` and a term query, and on the
  tombstoned index twice a term, a phrase and a term query;
- one more bulk build, save and load, late in the run, so that the
  build rate has two warm samples apart in time.

``query_mix`` spends its window on more query passes, ``live_ingest``
on more append cycles. The latency metrics of a workload are taken over
its own read mix: the query passes on ``query_mix``, the live term and
phrase queries on ``live_ingest``. The window's work is a fixed function of
``--seconds`` (never of a clock), so every run of a workload has the
same sample counts and the same percentiles. Traced runs add a timed
``search_many`` pass, ``compact_shards`` and a query on the compacted
index, and the single-threaded timings of ``microbench``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

from lucenenet_spark.index.builder import CorpusSpec, InvertedIndex, build_index
from lucenenet_spark.index.compaction import compact_shards
from lucenenet_spark.search import spans as sp
from lucenenet_spark.search.queries import MultiTermQuery, PhraseQuery, TermQuery
from lucenenet_spark.search.reference_queries import reference_query_set
from lucenenet_spark.search.searcher import IndexSearcher
from lucenenet_spark.session import get_spark
from lucenenet_spark.sources.synthetic import synthetic_corpus
from lucenenet_spark.streaming.ingest import append_batch, delete_docs, load_live

from perfbench import answers, microbench, stats, tracing

# every other query is in the term family
POSITIONAL_FAMILY = ("phrase", "sloppy_phrase", "multi_phrase", answers.SPAN_NEAR, "live_phrase")
LIVE_TERM = TermQuery(term="return")
LIVE_PHRASE = PhraseQuery(phrase_terms=("return", "value"))
# two term reads per phrase read, twice, on the tombstoned index
LIVE_READS = 2 * (("live_term", LIVE_TERM), ("live_phrase", LIVE_PHRASE), ("live_term", LIVE_TERM))
WORKLOADS = ("query_mix", "live_ingest")


# Fixed shape of a run. Two query passes: 32 latencies put the tail
# rule at p68.75 (ten beyond it).
SETUP_REPS = 2
QUERY_PASSES = 1  # query_mix passes outside its window
LIVE_CYCLES = 2  # append cycles outside a live_ingest window
REFRESH_READS = 2  # fresh load_live + first answer, per append
DELETE_SHARE = 0.01
# cost of one unit of window work on a 4-core host
PASS_S = 8.0
CYCLE_S = 5.0


@dataclass(frozen=True)
class Sizes:
    n_docs: int = 2000  # query warehouse and bulk build
    batch_docs: int = 500


def plan(workload: str, seconds: float, trace: bool) -> dict:
    """How many passes and cycles a run makes: the base counts plus the
    window's share, which depends only on ``seconds``."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    q, c = QUERY_PASSES, LIVE_CYCLES
    if workload == "query_mix":
        q += max(1, round(seconds / PASS_S))
    else:
        q = int(trace)  # traced runs need one pass for the search.* ledger
        c += max(1, round(seconds / CYCLE_S))
    return {"query_passes": q, "live_cycles": c}


def _family(name: str) -> str:
    return "positional" if name in POSITIONAL_FAMILY else "term"


def _span_near_query():
    return sp.SpanNearQuery(
        tuple(sp.SpanTermQuery(t) for t in answers.SPAN_TERMS),
        slop=answers.SPAN_SLOP,
        in_order=True,
    )


def _by_query(rows) -> dict:
    """``search_many`` rows -> query name -> top-10 hit keys."""
    got = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(answers.hit_key(r["docid"], r["score"]))
    return got


class Run:
    def __init__(self, workload, seed, seconds, trace, root, work, cores, sizes=Sizes()):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.root, self.work, self.cores, self.sizes = root, work, cores, sizes
        self.counts = plan(workload, seconds, trace)
        self.rng = np.random.default_rng(seed)
        self.tr = tracing.Tracer(trace)
        self.ledger = answers.Ledger()
        self.t = {}  # phase name -> seconds, or a list of seconds
        self.results = {}  # query name -> answers observed
        self.batched_out = []  # one {query name -> top-10} per search_many pass
        self.plan_dfs = {}  # traced: first DataFrame run per query type
        self.query_lat: list[tuple[str, float]] = []  # (query name, s) of the passes
        self.live_lat: list[tuple[str, float]] = []  # (query name, s) on the tombstoned index

    # ---------------------------------------------------------- set-up
    def setup(self) -> None:
        s = self.sizes
        with self.tr.span("session", "get_spark"):
            t0 = time.perf_counter()
            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.t["session"] = time.perf_counter() - t0
        if self.trace:
            self.tr.spark = self.spark
        corpus_path = os.path.join(self.work, "corpus")
        with self.tr.span("sources", "corpus_gen"):
            t0 = time.perf_counter()
            synthetic_corpus(self.spark, s.n_docs, self.seed).write.mode("overwrite").parquet(corpus_path)
            self.t["corpus_gen"] = time.perf_counter() - t0
        with self.tr.span("sources", "corpus_load"):
            t0 = time.perf_counter()
            self.corpus = self.spark.read.parquet(corpus_path)
            self.pdf = self.corpus.toPandas()
            self.t["corpus_load"] = time.perf_counter() - t0

        for k in ("build", "build_index", "save", "load", "setup_rep"):
            self.t[k] = []
        self.wh_bytes, self.build_spans, prev = [], [], None
        for i in range(SETUP_REPS):
            wh, self.index = self.build(i)
            self.searcher = IndexSearcher(self.index)
            if prev:
                shutil.rmtree(prev, ignore_errors=True)
            prev = wh

        self.queries = reference_query_set(self.seed)
        self.span_q = _span_near_query()
        with self.tr.span("search", "warm"):
            t0 = time.perf_counter()
            if self.counts["query_passes"]:
                rows = self.searcher.search_many(self.queries, 10, max_concurrency=self.cores).collect()
                sp.span_query(self.searcher, self.span_q).toPandas()
                self.batched_out.append(_by_query(rows))
            else:  # only the live term and phrase queries are timed
                for q in (LIVE_TERM, LIVE_PHRASE):
                    self.searcher.search(q, 10)
            self.t["warm"] = time.perf_counter() - t0

    def build(self, i: int) -> tuple[str, InvertedIndex]:
        """One bulk build + save into a fresh warehouse, and its load."""
        wh = os.path.join(self.work, f"warehouse_{i}")
        shutil.rmtree(wh, ignore_errors=True)
        with self.tr.span("index", "build") as bsp:
            t0 = time.perf_counter()
            with self.tr.span("index", "build_index"):
                idx = build_index(self.spark, self.corpus, CorpusSpec())
            t1 = time.perf_counter()
            with self.tr.span("index", "save"):
                idx.save(wh)
            t2 = time.perf_counter()
            idx.unpersist()
        self.build_spans.append(bsp)
        with self.tr.span("index", "load"):
            t3 = time.perf_counter()
            loaded = InvertedIndex.load(self.spark, wh)
            t4 = time.perf_counter()
        self.t["build_index"].append(t1 - t0)
        self.t["save"].append(t2 - t1)
        self.t["build"].append(t2 - t0)
        self.t["load"].append(t4 - t3)
        self.t["setup_rep"].append(t2 - t0 + t4 - t3)
        self.wh_bytes.append(stats.dir_bytes(wh))
        return wh, loaded

    def late_build(self) -> None:
        """A warm bulk build far in time from the set-up's, so that a
        host slow-down during the set-up does not set the build rate."""
        wh, _idx = self.build(SETUP_REPS)
        shutil.rmtree(wh, ignore_errors=True)

    # ----------------------------------------------------------- queries
    def _one_query(self, name: str, rid: int):
        q = self.span_q if name == answers.SPAN_NEAR else self.queries[name]
        with self.tr.span("search", "query", rid=rid, query=name, family=_family(name)):
            t0 = time.perf_counter()
            if name == answers.SPAN_NEAR:
                if self.tr.enabled:
                    with self.tr.span("search", "plan"):
                        df = sp.span_query(self.searcher, q)
                    with self.tr.span("search", "exec"):
                        out = len(df.toPandas())
                else:
                    out = len(sp.span_query(self.searcher, q).toPandas())
            elif self.tr.enabled:
                with self.tr.span("search", "plan"):
                    df = self.searcher.search_df(q, 10)
                with self.tr.span("search", "exec"):
                    out = [answers.hit_key(r["docid"], r["score"]) for r in df.collect()]
            else:
                out = [answers.hit_key(h.docid, h.score) for h in self.searcher.search(q, 10)]
            dt = time.perf_counter() - t0
        if self.tr.enabled and name not in self.plan_dfs:
            self.plan_dfs[name] = df
        return out, dt

    def query_phase(self) -> None:
        names = [*self.queries, answers.SPAN_NEAR]
        rid = 0
        for _ in range(self.counts["query_passes"]):
            for name in map(str, self.rng.permutation(names)):
                rid += 1
                try:
                    out, dt = self._one_query(name, rid)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    self.ledger.record(f"query {name}", False, "raised")
                    continue
                self.results.setdefault(name, []).append(out)
                self.query_lat.append((name, dt))
        if self.trace:
            with self.tr.span("search", "batched") as bsp:
                rows = self.searcher.search_many(self.queries, 10, max_concurrency=self.cores).collect()
            self.batched_span = bsp
            self.batched_out.append(_by_query(rows))

    # -------------------------------------------------------------- live
    def _live_read(self, path: str):
        with self.tr.span("streaming", "load_live"):
            t0 = time.perf_counter()
            idx, tombs = load_live(self.spark, path)
            searcher = IndexSearcher(idx, tombstones=tombs)
            self.t["load_live"].append(time.perf_counter() - t0)
        return idx, searcher

    def _live_query(self, searcher, q, deleted: set, op: str) -> tuple[list, float]:
        with self.tr.span("search", "live_query"):
            t0 = time.perf_counter()
            hits = searcher.search(q, 10)
            dt = time.perf_counter() - t0
        bad = [h.docid for h in hits if h.docid in deleted]
        self.ledger.record(op, not bad, f"tombstoned docids {bad[:5]} returned")
        return hits, dt

    def live_phase(self) -> None:
        s = self.sizes
        path = os.path.join(self.work, "live")
        shutil.rmtree(path, ignore_errors=True)
        spec = CorpusSpec(id_col="gid")
        for k in ("append", "refresh", "load_live", "delete"):
            self.t[k] = []
        deleted: set[int] = set()
        appended, hits, batch = 0, [], None
        for i in range(self.counts["live_cycles"]):
            if batch is not None:
                # ~1% of the previous batch plus the current top hits,
                # so that the tombstone checks have hits to bite on
                n_del = max(1, int(s.batch_docs * DELETE_SHARE))
                victims = set(self.rng.choice(batch["gid"].to_numpy(), n_del, replace=False).tolist())
                victims |= {int(h.docid) for h in hits[:3]}
                victims -= deleted
                with self.tr.span("streaming", "delete_docs"):
                    t0 = time.perf_counter()
                    delete_docs(self.spark, path, sorted(victims))
                    self.t["delete"].append(time.perf_counter() - t0)
                self.ledger.record("delete_docs", True)
                deleted |= victims
            # batches reuse corpus rows under fresh ids; docid == gid
            rows = np.arange(appended, appended + s.batch_docs) % len(self.pdf)
            batch = self.pdf.iloc[rows].reset_index(drop=True)
            batch["gid"] = np.arange(appended, appended + s.batch_docs, dtype=np.int64)
            with self.tr.span("sources", "micro_batch"):
                bdf = self.spark.createDataFrame(batch)
            with self.tr.span("streaming", "append_batch"):
                t0 = time.perf_counter()
                append_batch(bdf, path, spec, batch_id=i)
                t_ret = time.perf_counter()
            self.t["append"].append(t_ret - t0)
            self.ledger.record("append_batch", True)
            appended += s.batch_docs
            # the first refresh counts from the append's return; the
            # second repeats the same fresh load_live and first answer
            t0 = t_ret
            for _ in range(REFRESH_READS):
                idx, searcher = self._live_read(path)
                hits, _ = self._live_query(searcher, LIVE_TERM, deleted, "refresh query")
                self.t["refresh"].append(time.perf_counter() - t0)
                self.ledger.record(
                    "refresh max_doc", idx.max_doc == appended, f"max_doc {idx.max_doc} != {appended}"
                )
                t0 = time.perf_counter()
            if deleted:  # multi-shard and tombstoned from here on
                for name, q in LIVE_READS:
                    self.live_lat.append((name, self._live_query(searcher, q, deleted, f"live {name}")[1]))
        self.live_docs = appended
        self.live_shards = len(os.listdir(os.path.join(path, "manifest")))
        live = appended - len(deleted)
        with self.tr.span("index", "live_count"):
            docs = idx.docs
            if searcher.tombstones is not None:
                docs = docs.join(searcher.tombstones, "docid", "left_anti")
            n = docs.count()
        self.ledger.record("live count", n == live, f"{n} live docs != {live}")
        if self.trace:
            self.compact(path, deleted, live)

    def compact(self, path: str, deleted: set, live: int) -> None:
        with self.tr.span("index", "compact_shards") as csp:
            t0 = time.perf_counter()
            rec = compact_shards(self.spark, path, max_merge_docs=self.sizes.batch_docs)
            self.t["compaction"] = time.perf_counter() - t0
        self.compact_span = csp
        self.ledger.record("compact_shards", bool(rec), "nothing merged")
        self.compact_bytes = stats.dir_bytes(os.path.join(path, "shards", str(rec["shard"])))
        # a full merge consumes the tombstones: max_doc is the live count
        idx, searcher = self._live_read(path)
        self._live_query(searcher, LIVE_TERM, deleted, "compacted term")
        self.ledger.record(
            "compacted max_doc", idx.max_doc == live, f"max_doc {idx.max_doc} != {live}"
        )

    # ------------------------------------------------------------ checks
    def check_answers(self) -> None:
        """Every timed answer against the oracle's golden top-10."""
        if not (self.results or self.batched_out):
            return
        key = answers.golden_key(self.root, self.seed, self.sizes.n_docs)
        texts = self.pdf.sort_values(["repo", "path", "commit"])["content"].tolist()
        golden = answers.load_or_compute_golden(
            os.path.join(self.work, "golden"), key,
            lambda: answers.compute_golden(texts, self.queries),
        )
        answers.verify(self.ledger, self.results, self.batched_out, golden)

    # ----------------------------------------------------------- metrics
    def e2e_metrics(self, peak_rss_bytes: int) -> tuple[dict, dict]:
        """End-to-end metrics (untraced runs) and the details that go
        with them."""
        med = stats.median
        reads = self.query_lat if self.workload == "query_mix" else self.live_lat
        term = [(n, dt) for n, dt in reads if _family(n) == "term"]
        pos = [(n, dt) for n, dt in reads if _family(n) == "positional"]
        tail_v, tail_p, tail_n = stats.tail([dt for _n, dt in reads])
        setup = (
            self.t["session"] + self.t["corpus_gen"] + self.t["corpus_load"]
            + med(self.t["setup_rep"]) + self.t["warm"]
        )
        # the first build pays JIT and Python-worker imports: it counts
        # in setup_s, not in the build rate
        warm_builds = self.t["build"][1:] or self.t["build"]
        m = {
            "setup_s": setup,
            "peak_rss_mb": peak_rss_bytes / 2**20,
            "build_docs_per_s": self.sizes.n_docs / med(warm_builds),
            "term_p50_s": stats.typical_latency(term),
            "positional_p50_s": stats.typical_latency(pos),
            "query_tail_s": tail_v,
            "ingest_docs_per_s": self.live_docs / sum(self.t["append"]),
            "refresh_visible_s": med(self.t["refresh"]),
            "live_query_p50_s": med(dt for _n, dt in self.live_lat),
        }
        detail = {
            "query_tail": {"percentile": tail_p, "samples": tail_n},
            "samples": {
                "setup_reps": len(self.t["setup_rep"]),
                "term": len(term),
                "positional": len(pos),
                "appends": len(self.t["append"]),
                "refresh": len(self.t["refresh"]),
                "live_query": len(self.live_lat),
            },
        }
        return m, detail

    def _query_layer(self, family: str, own_rows: dict) -> dict:
        spans = [s for s in self.tr.find("search", "query") if s.attrs["family"] == family]
        kids: dict[int, dict[str, float]] = {}
        for s in self.tr.spans:
            if s.layer == "search" and s.name in ("plan", "exec"):
                kids.setdefault(s.parent, {})[s.name] = s.duration
        counters = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                    "input_bytes", "input_rows")
        per = {k: [] for k in ("plan_s", "exec_s", *counters, "shuffle_bytes")}
        scanned = own = 0.0
        for s in spans:
            c = s.attrs["spark"]
            per["plan_s"].append(kids[s.sid]["plan"])
            per["exec_s"].append(kids[s.sid]["exec"])
            for k in counters:
                per[k].append(c[k])
            per["shuffle_bytes"].append(c["shuffle_write_bytes"])
            scanned += c["input_rows"]
            own += own_rows[s.attrs["query"]]
        out = {f"search.{family}.{k}": stats.median(v) for k, v in per.items()}
        out[f"search.{family}.scan_waste_ratio"] = scanned / own if own else 0.0
        counts = [tracing.plan_counts(df) for n, df in self.plan_dfs.items() if _family(n) == family]
        out[f"search.{family}.exchanges"] = stats.median(c[0] for c in counts)
        out[f"search.{family}.python_nodes"] = stats.median(c[1] for c in counts)
        return out

    def _own_rows(self) -> dict:
        """Packed rows of each query's own (expanded) terms."""
        rows = {r["term"]: r["count"] for r in self.index.packed.groupBy("term").count().collect()}
        terms = sorted(rows)
        out = {}
        for name, q in [*self.queries.items(), (answers.SPAN_NEAR, self.span_q)]:
            if isinstance(q, MultiTermQuery):
                own = [t for t in terms if q.python_predicate(t)][:1024]
            else:
                own = q.terms()
            out[name] = sum(rows.get(t, 0) for t in set(own))
        return out

    def layer_metrics(self, wall: tuple[float, float]) -> dict:
        """Per-layer metrics (traced runs)."""
        med = stats.median
        tracing.drain_listener(self.spark)
        tracing.attribute_jobs(self.tr, tracing.spark_jobs(self.spark))
        m = {
            "session.get_spark_s": self.t["session"],
            "sources.corpus_gen_s": self.t["corpus_gen"],
            "index.build_index_s": med(self.t["build_index"]),
            "index.save_s": med(self.t["save"]),
            "index.bytes_written": med(self.wh_bytes),
            "index.load_s": med(self.t["load"]),
            "index.compact_shards_s": self.t["compaction"],
            "index.compact.shuffle_bytes": self.compact_span.attrs["spark"]["shuffle_write_bytes"],
            "index.compact.bytes_rewritten": self.compact_bytes,
            "streaming.append_batch_s": med(self.t["append"]),
            "streaming.load_live_s": med(self.t["load_live"]),
            "streaming.live_shards": self.live_shards,
            "streaming.delete_docs_s": med(self.t["delete"]),
        }
        builds = [s.attrs["spark"] for s in self.build_spans]
        for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes"):
            m[f"index.build.{k}"] = med(b[k] for b in builds)
        m["index.build.busy_ratio"] = med(
            b["executor_run_s"] / (s.duration * self.cores) for b, s in zip(builds, self.build_spans)
        )
        appends = [s.attrs["spark"] for s in self.tr.find("streaming", "append_batch")]
        m["streaming.append.jobs"] = med(a["jobs"] for a in appends)
        m["streaming.append.executor_cpu_s"] = med(a["executor_cpu_s"] for a in appends)
        own = self._own_rows()
        for family in ("term", "positional"):
            m.update(self._query_layer(family, own))
        b = self.batched_span
        m["search.batched_suite_s"] = b.duration
        m["search.batched.busy_ratio"] = b.attrs["spark"]["executor_run_s"] / (b.duration * self.cores)
        m["trace.coverage_ratio"] = tracing.coverage(self.tr.spans, *wall)
        return m

    def microbench(self) -> dict:
        cols = ["docs_enc", "freqs_enc", "norms_enc", "positions_enc"]

        def blocks(term):
            pdf = self.index.packed.where(f"term = '{term}'").select(*cols).toPandas()
            return [tuple(bytes(r[c]) for c in cols) for _i, r in pdf.iterrows()]

        sample = self.pdf["content"].sample(n=300, random_state=self.seed).tolist()
        return microbench.run(
            self.tr, sample, blocks("return"), blocks("value"),
            self.index.max_doc, self.searcher._avgdl,
        )

    def jvm_heap(self) -> tuple[int, int]:
        """``(committed, peak used)`` bytes of the JVM heap: how far G1
        grew the heap, which moves the JVM's share of ``peak_rss_mb``,
        and the peak use summed over the heap pools."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
        peak = sum(
            p.getPeakUsage().getUsed()
            for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"
        )
        return committed, peak

    def stop(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is not None:
            spark.stop()


def run_workload(workload, seed, seconds, trace, root, work, cores, sizes=Sizes()) -> dict:
    """Runs one workload. Returns the result object with bare metric
    values (units are attached from BENCHMARK.json) plus a ``detail``
    dict for the line printed before the result."""
    run = Run(workload, seed, seconds, trace, root, work, cores, sizes)
    cpu0 = stats.read_cpu_times()
    calib0 = stats.calibration_s()
    try:
        with stats.RssSampler() as rss:
            t0 = time.perf_counter()
            run.setup()
            run.query_phase()
            run.live_phase()
            run.late_build()
            wall = (t0, time.perf_counter())
        if trace:
            metrics = run.layer_metrics(wall)
            # an upper bound: every span priced as a top-level one
            n_spans = len(run.tr.spans)
            metrics["trace.overhead_ratio"] = n_spans * run.tr.span_cost_s() / (wall[1] - wall[0])
            metrics.update(run.microbench())
            metrics.update(
                {f"{k}.self_s": v for k, v in tracing.layer_self_times(run.tr.spans).items()}
            )
            detail = {}
        else:
            metrics, detail = run.e2e_metrics(rss.peak_bytes)
            detail["rss_peak_mb"] = {k: v / 2**20 for k, v in rss.peak_by_comm.items()}
            detail["jvm_heap_mb"] = dict(zip(("committed", "peak_used"), (b / 2**20 for b in run.jvm_heap())))
        run.check_answers()
    finally:
        run.stop()
    detail.update(
        workload=workload,
        seed=seed,
        cores=cores,
        counts=run.counts,
        n_docs=sizes.n_docs,
        wall_s=wall[1] - wall[0],
        phase_s={k: [round(x, 3) for x in v] if isinstance(v, list) else round(v, 3) for k, v in run.t.items()},
        op_failure_ratio=run.ledger.failed / run.ledger.attempted,
        failures=run.ledger.failures[:20],
        host=dict(
            stats.host_noise(cpu0, stats.read_cpu_times()),
            calibration_s=[calib0, stats.calibration_s()],
        ),
    )
    return {
        "correct": run.ledger.failed == 0,
        "attempted": run.ledger.attempted,
        "failed": run.ledger.failed,
        "metrics": {k: float(v) for k, v in metrics.items()},
        "detail": detail,
    }
