#!/usr/bin/env python
"""Kernel probe for the per-segment evaluator choice in search/segment.py.

Builds a seeded ``generate_webtext`` index (N docs, 8 segments merged to
one) in a temp dir, then, for each reference query shape, replays on the
driver the rows every (segment, slice) task reads (planned and read by the
engine's own ``search.searcher.plan_slices``, ``IndexReader.term_plan`` and
``index.reader.read_slice``) through

- ``search_segment`` (the path the engine picks), and
- the exhaustive evaluator (``_SegmentSearcher.evaluate`` + slice mask +
  ``_topk``),

at each docid slice span. Every per-slice top-k must be bit-identical
(docids and float32 scores) between the two. Prints best-of-R
milliseconds, and the median of the R, per shape and span of
``SegmentContext.from_columns`` plus the kernel (which decodes the
postings it reads), summed over the tasks: every timed call builds a
fresh context, so nothing decoded is cached across calls.

``--batch N`` replays instead one ``perfbench.corpus.batch_queries`` batch
of N queries per slice through ``batch_search_segment`` (what
``search_many`` runs: every query exhaustive over the context's memoised
term scores) and through a per-query ``search_segment`` loop (what
``search`` runs: windowed for terms and term dismax on slices wider than
one window), checks that every per-query top-k is bit-identical, and
prints best-of-R milliseconds per query family, each family on a fresh
context of each slice, and for the whole batch on one context — the
evidence for running a batch's terms exhaustive.

Usage:
    python tools/evaluator_probe.py [--docs 100000] [--spans 16384,126976,0]
                                    [--k 10] [--reps 3] [--cores 4]
                                    [--batch 1000]

A span of 0 means one slice per segment. At 1M docs the build and merge
take about 3 min at local[4].
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from lucene_spark.constants import ENGLISH_STOP_WORDS  # noqa: E402
from lucene_spark.fixtures import reference_queries  # noqa: E402
from lucene_spark.index.reader import read_slice  # noqa: E402
from lucene_spark.index.schemas import POSTINGS_COLS  # noqa: E402
from lucene_spark.search.query import (  # noqa: E402
    DisjunctionMaxQuery,
    TermQuery,
    collect_terms,
)
from lucene_spark.search.segment import (  # noqa: E402
    SegmentContext,
    _SegmentSearcher,
    _topk,
    batch_search_segment,
    search_segment,
)
from lucene_spark.search.searcher import plan_slices  # noqa: E402

CHUNK = 5000  # docs per generated corpus chunk


def shapes() -> dict[str, object]:
    """The reference shapes (minus the stopword-only ``single_9``) plus two
    dismax queries over hot terms."""
    out: dict[str, object] = {
        qid: qs for qid, qs in reference_queries() if qid != "single_9"
    }
    out["dismax_0"] = DisjunctionMaxQuery(
        disjuncts=(TermQuery("w0000"), TermQuery("w0001")), tie_breaker=0.1
    )
    out["dismax_1"] = DisjunctionMaxQuery(
        disjuncts=(TermQuery("w0002"), TermQuery("w0004"), TermQuery("w0100")),
        tie_breaker=0.3,
    )
    return out


def family(qid: str) -> str:
    fam = qid.split("_")[0]
    return "boolean" if fam in ("and", "or", "mixed") else fam


def build(spark, n_docs: int, seed: int, root: str) -> str:
    from lucene_spark.index import build_index
    from lucene_spark.index.merge import merge_segments

    n_chunks = (n_docs + CHUNK - 1) // CHUNK

    def gen(batches):
        from lucene_spark.fixtures import generate_webtext

        for pdf in batches:
            for cid in pdf["id"]:
                cid = int(cid)
                rows = generate_webtext(
                    min(CHUNK, n_docs - cid * CHUNK), seed=seed + cid,
                    start_id=cid * CHUNK,
                )
                yield pd.DataFrame(
                    {"url": [r["url"] for r in rows], "text": [r["text"] for r in rows]}
                )

    corpus = f"{root}/corpus"
    (
        spark.range(n_chunks).repartition(n_chunks)
        .mapInPandas(gen, schema="url string, text string")
        .write.parquet(corpus)
    )
    build_index(
        spark, spark.read.parquet(corpus), f"{root}/idx8", num_segments=8,
        stopwords=ENGLISH_STOP_WORDS,
    )
    merge_segments(spark, f"{root}/idx8", f"{root}/idx1", target_segments=1)
    return f"{root}/idx1"


def make_scorers(searcher, asts: list) -> dict:
    """The scorers the engine builds for ``asts`` from their term stats."""
    terms = sorted(set().union(*(collect_terms(a) for a in asts)))
    return searcher._make_scorers(asts, searcher._term_stats(terms))


def exhaustive(ctx: SegmentContext, ast, k: int):
    d, s = _SegmentSearcher(ctx).evaluate(ast)
    keep = (d >= ctx.min_doc) & (d < ctx.max_doc)
    return _topk(d[keep], s[keep], k)


def kernel_ms(tasks, scorers, ast, k: int, fn, reps: int):
    """Best-of-reps and median Σ over tasks of the time of from_columns and
    fn, and the last rep's results."""
    totals, results = [], []
    for _ in range(reps):
        total, results = 0.0, []
        for cols, lo, hi in tasks:
            t0 = time.perf_counter()
            ctx = SegmentContext.from_columns(cols, scorers, lo, hi)
            d, s = fn(ctx, ast, k)
            total += time.perf_counter() - t0
            results.append((d.tolist(), np.asarray(s, dtype=np.float32).tobytes()))
        totals.append(total)
    return 1e3 * min(totals), 1e3 * float(np.median(totals)), results


def read_tasks(reader, seg_meta: dict, span: int, terms) -> list:
    """(columns, lo, hi) of every (segment, slice) task for ``terms``."""
    terms = sorted(terms)
    _stats, singles = reader.term_plan(terms, positions=True, payloads=True)
    return [
        (read_slice(reader.index_dir, None, seg, lo, hi, terms, POSTINGS_COLS,
                    singles=singles)[0], lo, hi)
        for seg, lo, hi in plan_slices(seg_meta, span)
    ]


def shape_report(asts, scorers, reader, seg_meta, spans, args) -> bool:
    """Per reference shape: ``search_segment`` against the exhaustive
    evaluator. True when every top-k is bit-identical."""
    print("| shape | family | span | search_segment ms | exhaustive ms | median ms | identical |")
    print("|---|---|---:|---:|---:|---|---|")
    totals: dict[tuple[str, int], list[float]] = {}
    all_identical = True
    for span in spans:
        for qid, ast in asts.items():
            tasks = read_tasks(reader, seg_meta, span, collect_terms(ast))
            kms, kmed, kres = kernel_ms(
                tasks, scorers[qid], ast, args.k, search_segment, args.reps
            )
            ems, emed, eres = kernel_ms(tasks, scorers[qid], ast, args.k, exhaustive, args.reps)
            same = kres == eres
            all_identical &= same
            t = totals.setdefault((family(qid), span), [0.0, 0.0])
            t[0] += kms
            t[1] += ems
            print(f"| {qid} | {family(qid)} | {span or 'segment'} | "
                  f"{kms:.1f} | {ems:.1f} | {kmed:.1f} / {emed:.1f} | "
                  f"{'yes' if same else 'NO'} |", flush=True)
    print()
    print("| family | span | search_segment ms | exhaustive ms |")
    print("|---|---:|---:|---:|")
    for (fam, span), (kms, ems) in sorted(totals.items(), key=lambda x: (x[0][1] or 1 << 62, x[0][0])):
        print(f"| {fam} | {span or 'segment'} | {kms:.1f} | {ems:.1f} |")
    print(f"\nall bit-identical: {all_identical}")
    return all_identical


def ranked(d, s) -> list:
    """(docid, float32 score bits) in (score DESC, docid ASC) order."""
    s = np.asarray(s, dtype=np.float32)
    order = np.lexsort((d, -s.astype(np.float64)))
    return [(int(d[i]), s[i].tobytes()) for i in order]


def batch_report(asts, scorers, reader, seg_meta, spans, args) -> bool:
    """One query batch per (segment, slice) task, through
    ``batch_search_segment`` (what ``search_many`` runs) and through a
    per-query ``search_segment`` loop (what ``search`` runs). Each query
    family runs on a fresh context of the slice on each side, so every
    family pays its own decode and term scoring, whatever the batch's
    family order; the **all** row runs the whole batch on one fresh context
    a side, as one ``search_many`` call would. True when every per-query
    top-k is bit-identical."""
    by_fam: dict[str, dict] = {}
    for qid, ast in asts.items():
        by_fam.setdefault(family(qid), {})[qid] = ast
    groups = {**by_fam, "**all**": asts}
    print(f"# batch of {len(asts)} queries: "
          + ", ".join(f"{f} {len(q)}" for f, q in sorted(by_fam.items())))
    print("| span | slices | family | queries | batch ms | per-query loop ms | identical |")
    print("|---:|---:|---|---:|---:|---:|---|")
    terms = set().union(*(collect_terms(a) for a in asts.values()))

    def run_batch(ctx, qs) -> tuple[float, dict]:
        t0 = time.perf_counter()
        qids, d, s = batch_search_segment(ctx, qs, args.k)
        dt = time.perf_counter() - t0
        qids = np.asarray(qids, dtype=object)
        return dt, {qid: ranked(d[qids == qid], s[qids == qid]) for qid in qs}

    def run_loop(ctx, qs) -> tuple[float, dict]:
        dt, got = 0.0, {}
        for qid, ast in qs.items():
            t0 = time.perf_counter()
            d, s = search_segment(ctx, ast, args.k)
            dt += time.perf_counter() - t0
            got[qid] = ranked(d, s)
        return dt, got

    all_identical = True
    for span in spans:
        tasks = read_tasks(reader, seg_meta, span, terms)
        best_b = {f: float("inf") for f in groups}
        best_l = dict(best_b)
        same = {f: True for f in groups}
        for _ in range(args.reps):
            t_b = dict.fromkeys(groups, 0.0)
            t_l = dict.fromkeys(groups, 0.0)
            for cols, lo, hi in tasks:
                for fam, qs in groups.items():
                    dt_b, got_b = run_batch(SegmentContext.from_columns(cols, scorers, lo, hi), qs)
                    dt_l, got_l = run_loop(SegmentContext.from_columns(cols, scorers, lo, hi), qs)
                    t_b[fam] += dt_b
                    t_l[fam] += dt_l
                    same[fam] &= got_l == got_b
            for fam in groups:
                best_b[fam] = min(best_b[fam], t_b[fam])
                best_l[fam] = min(best_l[fam], t_l[fam])
        for fam, qs in sorted(by_fam.items()) + [("**all**", asts)]:
            all_identical &= same[fam]
            print(f"| {span or 'segment'} | {len(tasks)} | {fam} | {len(qs)} | "
                  f"{1e3 * best_b[fam]:.1f} | {1e3 * best_l[fam]:.1f} | "
                  f"{'yes' if same[fam] else 'NO'} |", flush=True)
    print(f"\nall bit-identical: {all_identical}")
    return all_identical


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--spans", default="16384,126976,0")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--batch", type=int, default=0,
                    help="replay a perfbench batch of this many queries")
    args = ap.parse_args()
    spans = [int(x) for x in args.spans.split(",")]

    from pyspark.sql import SparkSession

    from lucene_spark.search import Searcher

    root = tempfile.mkdtemp(prefix="evaluator_probe_")
    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName("evaluator-probe")
        .config("spark.sql.shuffle.partitions", str(2 * args.cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.local.dir", f"{root}/spark-local")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        t0 = time.perf_counter()
        idx = build(spark, args.docs, args.seed, root)
        print(f"# {args.docs} docs, 8 segments merged to 1, built in "
              f"{time.perf_counter() - t0:.0f} s at local[{args.cores}]; "
              f"k={args.k}, best of {args.reps}", flush=True)
        searcher = Searcher(spark, idx, stopwords=ENGLISH_STOP_WORDS)
        seg_meta = searcher._seg_meta()
        if args.batch:
            from perfbench.corpus import batch_queries

            queries = batch_queries(args.seed, 0, args.batch)
            asts = {qid: searcher._prepared(q) for qid, q in queries.items()}
            scorers = make_scorers(searcher, list(asts.values()))
        else:
            asts = {qid: searcher._prepared(q) for qid, q in shapes().items()}
            scorers = {qid: make_scorers(searcher, [a]) for qid, a in asts.items()}
        spark.stop()
        spark = None
        report = batch_report if args.batch else shape_report
        return 0 if report(asts, scorers, searcher.reader, seg_meta, spans, args) else 1
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
