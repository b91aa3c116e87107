"""Benchmark of the lucene_spark engine at local[2]: index set-up, then
single queries or batched queries in a closed loop with one client.

    python3 perfbench/run.py --workload query_single --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. One process, one
SparkSession at local[2]; every input derives from ``--seed``. The last line
of stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see perfbench/README.md). ``--smoke`` shrinks every size for the
smoke test and adds the engine's CheckIndex.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")

# Python workers inherit these: one BLAS/OpenMP thread per worker, the
# checkout's engine on the path, scratch files inside the checkout
os.environ["OMP_NUM_THREADS"] = "1"
os.environ["OPENBLAS_NUM_THREADS"] = "1"
os.environ["MKL_NUM_THREADS"] = "1"
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
sys.path.insert(0, ROOT)

# two executor cores: with the driver, the JVM's own threads and one Python
# worker per core, local[4] oversubscribes a 4-vCPU box and measures its
# scheduler; a single query runs no faster at 4 than at 1 or 2
CORES = 2
K = 10
SLICE_DOCS = 16384
N_SEGMENTS = 2
SETUP_REPS = 2  # timed set-up repetitions after the cold first one
# warm-up calls of the workload's own kind before the window, counted, not
# timed, so every run starts its window equally warm: each query plans and
# compiles new code, and the JIT still speeds calls up for several calls
WARMUP_CALLS = {"query_single": 3, "query_batch": 2}
WARMUP_SEED_OFFSET = 7919
PRIME_TERMS = (5000, 5001)
SIZES = {  # docs in the corpus, queries per search_many call
    "full": {"docs": 2000, "batch": 1000},
    "smoke": {"docs": 300, "batch": 96},
}
# oracle-checked queries of the first batch: one of each reference shape
ORACLE_SAMPLE = 24
WORKLOADS = ("query_single", "query_batch")

# On a shared VM a Spark call's wall time, and even its CPU time, follows
# the host's load: one seed's single query took 1.3 s in one run and 2.7 s
# in the next. So each timed call is paired with a plain Spark scan of the
# same postings, run right after it, and the bounded query metric is their
# ratio; the absolute times are per-layer metrics of the traced run.
END_TO_END = {
    "setup_s": "s",
    "query_vs_scan": "ratio",
    "index_bytes_per_text_byte": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "call_p50_ms": "ms",
    "scan_p50_ms": "ms",
    "qps": "1/s",
    "query_cpu_ms": "ms",
    "build_docs_per_s": "1/s",
    "searcher_open_s": "s",
    "analysis.tokens_per_s": "1/s",
    "index.builder.task_s": "s",
    "index.builder.job_s": "s",
    "index.builder.commit_s": "s",
    "index.builder.jobs": "count",
    "index.builder.stages": "count",
    "index.builder.tasks": "count",
    "index.merge.s": "s",
    "index.merge.jobs": "count",
    "index.merge.stages": "count",
    "index.reader.open_s": "s",
    "index.reader.term_stats_ms": "ms",
    "codecs.decode_docs_per_s": "1/s",
    "codecs.encode_docs_per_s": "1/s",
    "codecs.decode_ms": "ms",
    "search.searcher.parse_ms": "ms",
    "search.searcher.plan_ms": "ms",
    "search.searcher.exec_ms": "ms",
    "search.searcher.jobs_per_query": "count",
    "search.searcher.stages_per_query": "count",
    "search.searcher.tasks_per_query": "count",
    "search.searcher.batch_plan_s": "s",
    "search.searcher.batch_exec_s": "s",
    "search.searcher.batch_jobs": "count",
    "search.searcher.batch_stages": "count",
    "search.searcher.batch_tasks": "count",
    "search.segment.from_pdf_ms": "ms",
    "search.segment.pruned_ms": "ms",
    "search.segment.exhaustive_ms": "ms",
    "search.segment.phrase_ms": "ms",
    "search.segment.block_rows_per_query": "count",
    "search.segment.kernel_share": "ratio",
    "search.segment.batch_from_pdf_ms": "ms",
    "search.segment.batch_eval_ms": "ms",
    "trace.uncovered_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


class Checks:
    """Answer checks; every one that ran is listed on stdout."""

    def __init__(self):
        self.ran: dict[str, bool] = {}

    def __call__(self, name: str, ok: bool, detail: str = "") -> None:
        self.ran[name] = self.ran.get(name, True) and bool(ok)
        if not ok:
            print(f"check failed: {name}: {detail}", file=sys.stderr)


def _log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T_START:7.2f}s {msg}", file=sys.stderr, flush=True)


def _session():
    from pyspark.sql import SparkSession

    local = os.path.join(WORK, "spark-local")
    return (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # a fixed, pre-touched 768 MB heap: the JVM's share of peak_rss_mb
        # does not move with heap growth. One GC thread and the quick C1
        # compiler only: every query plans and compiles new code, and C2
        # plus parallel GC threads more than doubled each call's CPU time
        .config("spark.driver.memory", "768m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms768m -XX:+AlwaysPreTouch -XX:+UseSerialGC -XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
            f"-Dderby.system.home={WORK}",
        )
        .getOrCreate()
    )


def _stop(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _docs_per_segment(pdf):
    return pdf.groupby("segment_id", as_index=False)["n_docs"].sum()


def _hits(rows) -> list[tuple[int, float]]:
    import numpy as np

    return [(int(r["docid"]), float(np.float32(r["score"]))) for r in rows]


def _by_query(rows) -> dict[str, list[tuple[int, float]]]:
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], -r["score"], r["docid"])):
        out.setdefault(r["query_id"], []).append(r)
    return {q: _hits(v) for q, v in out.items()}


class Bench:
    def __init__(self, args):
        self.args = args
        self.size = SIZES["smoke" if args.smoke else "full"]
        self.trace = bool(args.trace)
        self.checks = Checks()
        self.attempted = 0
        self.failed = 0
        from perfbench.tracing import Tracer

        self.tracer = Tracer(self.trace)
        self.layers: dict[str, float] = {}

    # --- set-up -----------------------------------------------------------
    def setup(self) -> None:
        from lucene_spark.constants import ENGLISH_STOP_WORDS
        from lucene_spark.index import build_index
        from lucene_spark.search import Searcher
        from perfbench.corpus import corpus
        from perfbench.tracing import JobCounter

        self.stop = ENGLISH_STOP_WORDS
        self.spark = _session()
        self.spark.sparkContext.setLogLevel("ERROR")
        _log("session started")
        self.jobs = JobCounter(self.spark.sparkContext)
        self.pdf = corpus(self.size["docs"], self.args.seed)
        self.text_bytes = int(self.pdf["text"].str.encode("utf-8").str.len().sum())

        # rep 0 is cold: it pays JVM and Python-worker start-up, and its
        # Searcher serves the warm-up. Reps 1.. are timed, so the set-up
        # medians are taken over warm samples only.
        rep_s, build_s, job_s, open_s = [], [], [], []
        for rep in range(1 + SETUP_REPS):
            t0 = time.perf_counter()
            df = self.spark.createDataFrame(self.pdf, "url string, text string")
            idx = os.path.join(WORK, f"index{rep}")
            with self.jobs.call("build") as gid:
                m = build_index(
                    self.spark, df, idx, num_segments=N_SEGMENTS,
                    analyzer="standard", stopwords=self.stop, index_positions=True,
                )
            t1 = time.perf_counter()
            self.build_counts = self.jobs.counts(gid)
            t2 = time.perf_counter()
            s = Searcher(self.spark, idx, stopwords=self.stop, slice_docs=SLICE_DOCS)
            t3 = time.perf_counter()
            self.checks("build.n_docs", m["n_docs"] == len(self.pdf), f"{m['n_docs']}")
            self.checks(
                "build.global_stats",
                s.reader.global_stats[0] == len(self.pdf),
                f"{s.reader.global_stats}",
            )
            _log(f"set-up rep {rep}: build {t1 - t0:.2f}s open {t3 - t2:.2f}s")
            if rep == 0:
                warm = s
                continue
            rep_s.append(t1 - t0 + t3 - t2)
            build_s.append(t1 - t0)
            job_s.append(m["build_secs"])
            open_s.append(t3 - t2)
        # the last Searcher is the timed one; priming leaves its term-stats
        # cache without any of the window's terms
        self.index, self.searcher = idx, s
        self.postings = self.spark.read.parquet(os.path.join(idx, "data")).select(
            "segment_id", "term", "n_docs"
        )
        self.build_s, self.job_s, self.open_s = build_s, job_s, open_s

        calls = self._calls(warm, self.args.seed + WARMUP_SEED_OFFSET)
        for _ in range(1 if self.args.smoke else WARMUP_CALLS[self.args.workload]):
            queries, plan = next(calls)
            plan().collect()
            self._scan(queries)
        self._prime(self.searcher)
        self._scan(queries)
        _log("warm-up done")
        self.setup_s = time.perf_counter() - T_START - sum(rep_s) + statistics.median(rep_s)

    # --- timed window ------------------------------------------------------
    def _timed(self, label: str, call: int, plan, exec_):
        """One timed call: plan() returns a DataFrame, exec_ collects it.
        Returns (rows, seconds, cpu seconds, counts, traced); rows is None
        if the call raised. In the traced run every other call runs with
        spans on."""
        from perfbench.tracing import tree_cpu_s

        traced = self.trace and call % 2 == 0
        self.tracer.enabled = traced
        self.attempted += 1
        rows = None
        c0 = tree_cpu_s()
        with self.jobs.call(label) as gid:
            t0 = time.perf_counter()
            try:
                with self.tracer.span(label, call=call):
                    with self.tracer.span("plan"):
                        df = plan()
                    with self.tracer.span("exec"):
                        rows = exec_(df)
            except Exception as exc:  # counted, never fatal
                print(f"{label} call {call} failed: {exc!r}", file=sys.stderr)
                self.failed += 1
            secs = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        self.tracer.enabled = self.trace
        return rows, secs, cpu, self.jobs.counts(gid), traced

    def _calls(self, s, seed: int):
        """Endless (queries, plan) calls of this workload on Searcher ``s``;
        plan() returns the call's DataFrame."""
        from perfbench.corpus import batch_queries, fresh_queries

        if self.args.workload == "query_single":
            for shape, q in fresh_queries(seed):
                yield {shape: q}, lambda q=q: s.search(q, k=K)
            return
        for i in itertools.count():
            qs = batch_queries(seed, i, self.size["batch"])
            yield qs, lambda qs=qs: s.search_many(qs, k=K)

    def _prime(self, s) -> None:
        """One call of the workload's kind that builds Searcher ``s``'s lazy
        per-index state, on terms outside every df band the query streams
        draw from, so its term-stats cache holds none of their terms."""
        q = f"w{PRIME_TERMS[0]:04d} AND w{PRIME_TERMS[1]:04d}"
        if self.args.workload == "query_single":
            s.search(q, k=K).collect()
        else:
            s.search_many({"prime": q}, k=K).collect()

    def _scan(self, queries: dict[str, str]) -> float:
        """Wall seconds of the plain Spark queries paired with one timed call,
        shaped like it over the postings rows of the call's terms: a per-term
        aggregate collected to the driver, then a sum per segment through a
        pandas UDF, top k collected. No engine code runs in them, so they
        track only how fast Spark and the host are at that moment."""
        import pyspark.sql.functions as F

        from perfbench.corpus import query_terms

        df = self.postings.where(F.col("term").isin(query_terms(queries.values())))
        t0 = time.perf_counter()
        df.groupBy("term").agg(F.sum("n_docs")).collect()
        (df.groupBy("segment_id")
         .applyInPandas(_docs_per_segment, "segment_id int, n_docs long")
         .orderBy(F.desc("n_docs")).limit(K).collect())
        return time.perf_counter() - t0

    def window(self) -> None:
        label = "query" if self.args.workload == "query_single" else "batch"
        self.calls: list[dict] = []
        self.n_queries = 0
        # the window ends before a (call, scan) pair that would overrun it
        end = time.perf_counter() + self.args.seconds
        last = 0.0
        for i, (queries, plan) in enumerate(self._calls(self.searcher, self.args.seed)):
            t = time.perf_counter()
            if i and t + last > end:
                break
            rows, secs, cpu, counts, traced = self._timed(
                label, i, plan, lambda df: df.collect()
            )
            self.calls.append(
                {"queries": queries, "rows": rows, "secs": secs, "cpu": cpu,
                 "counts": counts, "traced": traced, "scan": self._scan(queries)}
            )
            last = time.perf_counter() - t
            if rows is not None:
                self.n_queries += len(queries)

    # --- answer checks -------------------------------------------------------
    def check_answers(self) -> None:
        from lucene_spark.index.reader import IndexReader
        from lucene_spark.oracle.pyindex import PyIndex

        rdr = IndexReader(self.spark, self.index)
        bases = rdr.doc_bases
        url_to_docid = {
            r["url"]: int(r["docid"]) + int(bases[int(r["segment_id"])])
            for r in rdr.docmap.select("segment_id", "docid", "url").collect()
        }
        self.checks("docmap.complete", set(url_to_docid) == set(self.pdf["url"]))
        oracle = PyIndex(stopwords=self.stop)
        for url, text in zip(self.pdf["url"], self.pdf["text"]):
            oracle.add(url_to_docid[url], text)

        def expect(q: str):
            return [(d, float(s)) for d, s in oracle.search_query(self.searcher.parse(q), k=K)]

        ok = [c for c in self.calls if c["rows"] is not None]
        if self.args.workload == "query_single":
            got = {}
            for c in ok:
                (qid, q), = c["queries"].items()
                got[qid] = _hits(c["rows"])
                self.checks("oracle.top_k", got[qid] == expect(q), f"{qid} {q}")
            shared = {qid: c["queries"][qid] for c in ok for qid in c["queries"]}
            many = _by_query(self.searcher.search_many(shared, k=K).collect())
            for qid in shared:
                self.checks("search_eq_search_many", many.get(qid, []) == got[qid], qid)
        elif ok:
            first = ok[0]
            many = _by_query(first["rows"])
            sample = list(first["queries"].items())[:ORACLE_SAMPLE]
            for qid, q in sample:
                self.checks("oracle.top_k", many.get(qid, []) == expect(q), f"{qid} {q}")
            for qid, q in sample:
                if qid.startswith("phrase_0"):
                    single = _hits(self.searcher.search(q, k=K).collect())
                    self.checks("search_eq_search_many", many.get(qid, []) == single, qid)
        self.checks("calls.all_answered", len(ok) == len(self.calls))

    # --- per-layer probes (traced run only) ------------------------------------
    def probe_layers(self) -> None:
        from perfbench import layers

        L = self.layers
        tr = self.tracer
        L["index.builder.job_s"] = statistics.median(self.job_s)
        L["index.builder.commit_s"] = statistics.median(
            b - j for b, j in zip(self.build_s, self.job_s)
        )
        (L["index.builder.jobs"], L["index.builder.stages"],
         L["index.builder.tasks"]) = self.build_counts
        L.update(layers.build_layers(self.pdf, self.index, self.stop))

        # traced window: top-level spans must cover every traced call
        unc = tr.uncovered_frac("query" if self.args.workload == "query_single" else "batch")
        L["trace.uncovered_frac"] = max(unc) if unc else 0.0
        self.checks("trace.spans_cover_calls", bool(unc) and max(unc) <= 0.10, f"{unc}")
        on = [c["secs"] for c in self.calls if c["traced"] and c["rows"] is not None]
        off = [c["secs"] for c in self.calls if not c["traced"] and c["rows"] is not None]
        L["trace.overhead_frac"] = (
            statistics.median(on) / statistics.median(off) - 1.0 if on and off else 0.0
        )

        # tracing adds no Spark work: replay the first (traced) call untraced
        # on a fresh, primed Searcher and compare job, stage and task counts
        from lucene_spark.search import Searcher

        first = self.calls[0]
        replay = Searcher(self.spark, self.index, stopwords=self.stop, slice_docs=SLICE_DOCS)
        self._prime(replay)
        qs = first["queries"]
        with self.jobs.call("replay") as gid:
            if self.args.workload == "query_single":
                replay.search(next(iter(qs.values())), k=K).collect()
            else:
                replay.search_many(qs, k=K).collect()
        self.checks(
            "trace.same_spark_work", self.jobs.counts(gid) == first["counts"],
            f"{self.jobs.counts(gid)} vs {first['counts']}",
        )

        L.update(layers.query_layers(self, tr, K, SLICE_DOCS))
        L.update(layers.merge_layers(self))

    # --- output ------------------------------------------------------------
    def metrics(self, peak_kb: int) -> dict:
        ok = [c for c in self.calls if c["rows"] is not None]
        if self.trace:
            vals = dict(self.layers)
            vals.update({
                "call_p50_ms": 1e3 * statistics.median(c["secs"] for c in ok),
                "scan_p50_ms": 1e3 * statistics.median(c["scan"] for c in ok),
                "qps": self.n_queries / sum(c["secs"] for c in ok),
                "query_cpu_ms": 1e3 * statistics.median(c["cpu"] / len(c["queries"]) for c in ok),
                "build_docs_per_s": len(self.pdf) / statistics.median(self.build_s),
                "searcher_open_s": statistics.median(self.open_s),
            })
            units = PER_LAYER
        else:
            vals = {
                "setup_s": self.setup_s,
                "query_vs_scan": sum(c["secs"] for c in ok) / sum(c["scan"] for c in ok),
                "index_bytes_per_text_byte": _dir_bytes(self.index) / self.text_bytes,
                "peak_rss_mb": peak_kb / 1024.0,
            }
            units = END_TO_END
        missing = set(units) - set(vals)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        return {k: {"value": float(vals[k]), "unit": units[k]} for k in units}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    # fail fast outside a checkout: the engine is built from source here
    if not os.path.isfile(os.path.join(ROOT, "lucene_spark", "__init__.py")):
        print("perfbench: run from the root of a lucene_spark checkout", file=sys.stderr)
        return 2
    from perfbench.tracing import RssSampler

    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    bench = Bench(args)
    try:
        with RssSampler() as rss:
            bench.setup()
            bench.window()
            _log("window done: call/scan s " + " ".join(
                f"{c['secs']:.2f}/{c['scan']:.2f}" for c in bench.calls))
            bench.check_answers()
            _log("answer checks done")
            if args.smoke:
                from perfbench.layers import check_index_both

                check_index_both(bench)
            if bench.trace:
                bench.probe_layers()
                bench.tracer.write(os.path.join(ROOT, ".perfbench", "spans.json"))
        result = {
            "correct": all(bench.checks.ran.values()),
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": bench.metrics(rss.peak_kb),
        }
    finally:
        if getattr(bench, "spark", None) is not None:
            _stop(bench.spark)
        shutil.rmtree(WORK, ignore_errors=True)
    _log("stopped")
    print("checks: " + json.dumps(bench.checks.ran, sort_keys=True))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
