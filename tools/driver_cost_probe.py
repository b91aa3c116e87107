#!/usr/bin/env python
"""Cost probe for where ``Searcher._slices`` runs a plan (search/searcher.py).

Measures, at local[--cores]:

(a) one empty ``mapInPandas`` wave (``spark.range(0, n, 1, n)`` through an
    identity function, collected) at 1 task and at ``defaultParallelism``
    tasks — the fixed price of running a plan on Spark;
(b) the read layer alone, per task of the auto span: ``read_slice`` with
    no postings to read (the fixed cost of a task) and with 2 terms, and
    ``SegmentContext.from_columns`` on what the 2-term read returned. The
    no-postings read is timed warm and cold: cold runs each read on an
    empty decoded-column cache (``index.reader.SEGMENT_CACHE``, where the
    version has one), the first touch of a segment in a process;
(c) the driver-side cost of the engine's own task body, ``_run_slice`` over
    the ``plan_slices`` tasks of the auto span with ``read_slice``, on
    seeded ``perfbench.corpus`` indexes (2 segments, positions indexed, as
    the benchmark builds them) of each ``--docs`` size: a term no segment
    holds (the reads alone), the reference term, boolean and phrase
    shapes (top-k kernel), ``*`` (docmap docs) and one ``batch_queries``
    batch through the ``search_many`` kernel;
(d) the result layer: ``search(q).collect()`` of the reference queries
    against the same calls' parse, ``_slices`` and top-k merge alone (the
    call less the building of its result rows), per size.

Each figure is the median of --reps timed runs after one warm-up (the
cold read has no warm-up). The constants of ``searcher._driver_ms`` are
fitted over all sizes at once, so that the estimate follows the index
size: the warm per-task read, the cold read's extra per task as a line in
the task's docid span, then the cost per posting (per positions posting)
and per docmap doc by least squares on what the read leaves. The batch is
measured against the fit, not fitted. It prints the read layer's ms per
task (cold, the fitted cold extra, warm), the result layer, each size's
measured against fitted ms (warm), then the constants; WAVE_MS is the
1-task wave.

Usage:
    python tools/driver_cost_probe.py [--docs 2000,20000,100000] [--seed 1]
                                      [--cores 4] [--reps 5] [--batch 1000]

At the default sizes it took 3–17 min at local[4] on a shared 4-core box.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time
from functools import partial

import numpy as np
import pandas as pd

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

from lucene_spark.constants import ENGLISH_STOP_WORDS  # noqa: E402
from lucene_spark.fixtures import reference_queries  # noqa: E402
from lucene_spark.index.reader import read_slice  # noqa: E402
from lucene_spark.index.schemas import POSTINGS_COLS, SEARCH_HIT_SCHEMA  # noqa: E402
from lucene_spark.search.query import collect_terms  # noqa: E402
from lucene_spark.search.segment import SegmentContext  # noqa: E402
from lucene_spark.search.searcher import (  # noqa: E402
    _all_body,
    _batch_body,
    _plan_reads,
    _run_slice,
    _to_pandas,
    _top,
    _top_k_body,
    plan_slices,
)
from probe_cache import drop_cache  # noqa: E402

K = 10
# the 2-term read of (b): a hot and a mid-frequency fixture term
READ_TERMS = ["w0000", "w0100"]


def _median_ms(fn, reps: int) -> float:
    fn()  # warm-up: imports, page cache, pyarrow dataset metadata
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(1e3 * (time.perf_counter() - t0))
    return statistics.median(out)


def wave_ms(spark, n: int, reps: int) -> float:
    """One empty n-task mapInPandas wave, collected."""

    def identity(batches):
        yield from batches

    df = spark.range(0, n, 1, n).mapInPandas(identity, schema="id long")
    return _median_ms(df.collect, reps)


def build(spark, n_docs: int, seed: int, root: str) -> str:
    from lucene_spark.index import build_index
    from perfbench.corpus import corpus

    idx = f"{root}/idx{n_docs}"
    df = spark.createDataFrame(corpus(n_docs, seed), "url string, text string")
    build_index(
        spark, df, idx, num_segments=2, stopwords=ENGLISH_STOP_WORDS,
        index_positions=True,
    )
    return idx


def driver_ms(searcher, queries: list, body, reps: int) -> tuple[float, dict]:
    """Median ms of ``_run_slice`` over the plan's tasks in this process,
    and the plan's cost inputs as ``Searcher._slices`` counts them."""
    terms = sorted(set().union(*(collect_terms(q) for q in queries)))
    seg_meta = searcher._seg_meta()
    tasks = plan_slices(seg_meta, searcher._slice_span())
    positions = _plan_reads(queries)[2]
    got, singles = searcher.reader.term_plan(terms, positions)
    tstats = {t: got.get(t, (0, 0)) for t in terms}
    cols = [c for c in POSTINGS_COLS if c != "payloads_enc"]
    if not positions:
        cols.remove("positions_enc")
    read = partial(
        read_slice, searcher.reader.index_dir, None, terms=terms, cols=cols,
        docs=not terms, singles=singles,
    )
    run = partial(
        _run_slice, tasks=tasks, read=read, body=body,
        scorers=searcher._make_scorers(queries, tstats), seg_meta=seg_meta,
        cache_tag=None,
    )
    ids = pd.DataFrame({"id": np.arange(len(tasks))})
    ms = _median_ms(lambda: list(run([ids])), reps)
    return ms, {
        "tasks": len(tasks),
        "postings": sum(df for df, _ttf in tstats.values()),
        "docs": sum(hi - lo for _s, lo, hi in tasks),
        "positions": positions,
    }


def read_layer_ms(searcher, terms: list[str], reps: int) -> tuple[float, float, float]:
    """Median ms per task of ``read_slice`` of ``terms`` over the auto-span
    tasks, warm and cold, and of ``SegmentContext.from_columns`` on what
    it read."""
    _stats, singles = searcher.reader.term_plan(terms)
    tasks = plan_slices(searcher._seg_meta(), searcher._slice_span())
    cols = [c for c in POSTINGS_COLS if c not in ("positions_enc", "payloads_enc")]

    def read():
        return [
            read_slice(searcher.reader.index_dir, None, seg, lo, hi, terms, cols,
                       singles=singles)[0]
            for seg, lo, hi in tasks
        ]

    cold = []
    for _ in range(reps):
        drop_cache()
        t0 = time.perf_counter()
        got = read()
        cold.append(1e3 * (time.perf_counter() - t0))

    def build():
        for c, (_seg, lo, hi) in zip(got, tasks):
            SegmentContext.from_columns(c, {}, lo, hi)

    n = len(tasks)
    return (statistics.median(cold) / n, _median_ms(read, reps) / n,
            _median_ms(build, reps) / n)


def result_rows_ms(searcher, queries: list[str], reps: int) -> tuple[float, float]:
    """Median over ``queries`` of the median ms of ``search(q, k=K)
    .collect()``, and of the same call's parse, ``_slices`` and top-k
    merge alone; the difference is what building the result rows costs."""

    def merged(q):
        p = searcher._prepared(q)
        body = partial(_top_k_body, query=p, k=K, after=None)
        return _top(_to_pandas(searcher._slices([p], body, SEARCH_HIT_SCHEMA)), K)

    whole, part = [], []
    for q in queries:
        whole.append(_median_ms(lambda q=q: searcher.search(q, k=K).collect(), reps))
        part.append(_median_ms(lambda q=q: merged(q), reps))
    return statistics.median(whole), statistics.median(part)


def probe_index(searcher, args) -> dict:
    """Timed plans on one index: (ms, cost inputs) per shape."""
    from perfbench.corpus import batch_queries

    def top_k(q):
        return driver_ms(searcher, [q], partial(_top_k_body, query=q, k=K, after=None),
                         args.reps)

    out = {
        "read_none": read_layer_ms(searcher, [], args.reps)[:2],
        "read_2": read_layer_ms(searcher, READ_TERMS, args.reps),
        "absent": top_k(searcher._prepared("zzzzabsentterm")),
        "result": result_rows_ms(searcher, [qs for _qid, qs in reference_queries()], args.reps),
    }
    out["terms"] = [top_k(searcher._prepared(qs)) for _qid, qs in reference_queries()]
    out["terms"] += [
        top_k(searcher._prepared(qs))
        for qs in ('"w0000 w0002"', '"w0001 w0004"', '"w0002 w0000"~2')
    ]
    q = searcher._prepared("*")
    out["all"] = driver_ms(searcher, [q], partial(_all_body, query=q), args.reps)
    parsed = {
        qid: searcher._prepared(qs)
        for qid, qs in batch_queries(args.seed, 0, args.batch).items()
    }
    out["batch"] = driver_ms(
        searcher, list(parsed.values()), partial(_batch_body, queries=parsed, k=K),
        max(1, args.reps // 2),
    )
    return out


def fit(rows: dict) -> dict[str, float]:
    """The constants of ``searcher._driver_ms``, fitted over every size:
    the warm per-task read by least squares through the origin on the
    tasks of the (warm) absent-term plans; the cold read's extra per task
    as a line in the task's docid span through the cold less the warm
    no-postings read; then each per-unit cost through the origin on what
    the read leaves (a posting of a term, a positions posting, a docmap
    doc)."""

    def through_origin(points):
        x = np.array([p[0] for p in points], dtype=float)
        y = np.array([p[1] for p in points], dtype=float)
        return max(0.0, float(x @ y / (x @ x)))

    c = {"TASK_MS": through_origin([(inp["tasks"], ms) for ms, inp in
                                    (r["absent"] for r in rows.values())])}
    slope, icept = np.polyfit(
        [r["absent"][1]["docs"] / r["absent"][1]["tasks"] for r in rows.values()],
        [r["read_none"][0] - r["read_none"][1] for r in rows.values()], 1,
    )
    c["COLD_TASK_MS"], c["COLD_DOC_MS"] = max(0.0, icept), max(0.0, slope)

    def read(inp):
        return c["TASK_MS"] * inp["tasks"]

    for key, pos in (("POSTING_MS", False), ("POSITION_POSTING_MS", True)):
        c[key] = through_origin([
            (inp["postings"], ms - read(inp))
            for r in rows.values() for ms, inp in r["terms"]
            if inp["positions"] == pos and inp["postings"]
        ])
    c["DOC_MS"] = through_origin([
        (r["all"][1]["docs"], r["all"][0] - read(r["all"][1])) for r in rows.values()
    ])
    return c


def predicted(c: dict, inp: dict, docs: bool = False) -> float:
    """``searcher._driver_ms`` of ``inp``, every segment warm, under the
    constants ``c``."""
    per = c["POSITION_POSTING_MS" if inp["positions"] else "POSTING_MS"]
    return (
        c["TASK_MS"] * inp["tasks"]
        + (c["DOC_MS"] if docs else 0.0) * inp["docs"]
        + per * inp["postings"]
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--docs", default="2000,20000,100000")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--batch", type=int, default=1000)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from lucene_spark.search import Searcher

    root = tempfile.mkdtemp(prefix="driver_cost_probe_")
    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        par = spark.sparkContext.defaultParallelism
        waves = {n: wave_ms(spark, n, args.reps) for n in sorted({1, par})}
        print(f"# local[{args.cores}], median of {args.reps} after one warm-up")
        print("| empty wave, tasks | ms |\n|---:|---:|")
        for n, ms in waves.items():
            print(f"| {n} | {ms:.0f} |")
        rows = {}
        for n_docs in (int(x) for x in args.docs.split(",")):
            idx = build(spark, n_docs, args.seed, root)
            rows[n_docs] = probe_index(
                Searcher(spark, idx, stopwords=ENGLISH_STOP_WORDS), args
            )
        c = fit(rows)
        print("\n| docs | docs/task | read ms/task, no postings, cold | cold less warm, "
              "fitted | read ms/task, no postings | read ms/task, 2 terms "
              "| from_columns ms/task, 2 terms |")
        print("|---:|---:|---:|---:|---:|---:|---:|")
        for n_docs, r in rows.items():
            inp = r["absent"][1]
            per = inp["docs"] / inp["tasks"]
            print(f"| {n_docs} | {per:.0f} | {r['read_none'][0]:.2f} "
                  f"| {c['COLD_TASK_MS'] + c['COLD_DOC_MS'] * per:.2f} "
                  f"| {r['read_none'][1]:.2f} | {r['read_2'][1]:.2f} | {r['read_2'][2]:.2f} |")
        print("\n| docs | search(q).collect() ms | parse + _slices + merge ms "
              "| result rows ms |")
        print("|---:|---:|---:|---:|")
        for n_docs, r in rows.items():
            whole, part = r["result"]
            print(f"| {n_docs} | {whole:.1f} | {part:.1f} | {whole - part:.1f} |")
        print("\n| docs | tasks | docs/task | absent ms | term shapes ms, "
              "measured / fitted (sum) | * ms | batch ms |")
        print("|---:|---:|---:|---:|---:|---:|---:|")
        for n_docs, r in rows.items():
            ms, inp = r["absent"]
            terms = sum(m for m, _i in r["terms"])
            fitted = sum(predicted(c, i) for _m, i in r["terms"])
            print(
                f"| {n_docs} | {inp['tasks']} | {inp['docs'] / inp['tasks']:.0f} "
                f"| {ms:.1f} / {predicted(c, inp):.1f} | {terms:.0f} / {fitted:.0f} "
                f"| {r['all'][0]:.0f} / {predicted(c, r['all'][1], docs=True):.0f} "
                f"| {r['batch'][0]:.0f} / {predicted(c, r['batch'][1]):.0f} |"
            )
        print("\nconstants for search/searcher.py:")
        print(f"WAVE_MS = {waves[1]:.0f}")
        for k, v in c.items():
            print(f"{k} = {v:.3g}")
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
