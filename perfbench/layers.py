"""Per-layer probes of the traced run. Each times the benchmark's own calls
into one layer's public entry points; nothing inside the engine changes.

The kernel probes replay, on the driver, the block rows one (segment, slice)
task receives: read with pyarrow from the index's data directory (postings
blocks plus the pulsed singletons of the term dictionary, expanded as
``index.pseudo.singleton_pseudo_blocks`` does) and fed to
``SegmentContext.from_pdf`` / ``search_segment`` / ``batch_search_segment``.
"""

from __future__ import annotations

import itertools
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from lucene_spark.index.pseudo import ENC_SINGLETON
from lucene_spark.index.schemas import KIND_BLOCK, KIND_DOC, KIND_TERM, POSTINGS_COLS

REPS = 3
PROBE_SEED_OFFSET = 104729
# the query shapes whose every layer the traced run replays: a conjunction,
# a five-term disjunction and the exact phrase
PROBE_SHAPES = ("and_2", "or_4", "phrase_0")


def _ms(t0: float) -> float:
    return 1e3 * (time.perf_counter() - t0)


def _data(index_dir: str) -> ds.Dataset:
    return ds.dataset(os.path.join(index_dir, "data"), format="parquet", partitioning="hive")


def _segments(index_dir: str) -> dict[int, tuple[int, int]]:
    """segment_id -> (min docid, max docid + 1) from the docmap rows."""
    t = _data(index_dir).to_table(
        columns=["segment_id", "docid"], filter=ds.field("kind") == KIND_DOC
    ).to_pandas()
    g = t.groupby("segment_id")["docid"]
    return {int(s): (int(lo), int(hi) + 1) for s, lo, hi in zip(g.min().index, g.min(), g.max())}


def task_rows(index_dir: str, seg: int, lo: int, hi: int, terms: list[str]) -> pd.DataFrame:
    """The block rows of ``terms`` that the (segment, slice) task owning
    docids [lo, hi) receives."""
    data = _data(index_dir)
    in_seg = (ds.field("segment_id") == seg) & ds.field("term").isin(terms)
    blocks = data.to_table(
        columns=[c for c in POSTINGS_COLS if c != "segment_id"],
        filter=in_seg & (ds.field("kind") == KIND_BLOCK)
        & (ds.field("last_docid") >= lo) & (ds.field("first_docid") < hi),
    ).to_pandas()
    td = data.to_table(
        filter=in_seg & (ds.field("kind") == KIND_TERM)
        & ds.field("singleton_docid").is_valid()
        & (ds.field("singleton_docid") >= lo) & (ds.field("singleton_docid") < hi),
    ).to_pandas()
    singles = pd.DataFrame({
        "term": td["term"],
        "block_no": 0,
        "n_docs": 1,
        "base_docid": td["singleton_docid"] - 1,
        "first_docid": td["singleton_docid"],
        "last_docid": td["singleton_docid"],
        "encoding": ENC_SINGLETON,
        "docids_enc": None,
        "freqs_enc": None,
        "norms_enc": None,
        "positions_enc": td["singleton_positions"],
        "payloads_enc": td["singleton_payloads"],
        "impact_freqs": [[int(f)] for f in td["singleton_freq"]],
        "impact_norms": [[int(n)] for n in td["singleton_norm"]],
    })
    out = pd.concat([blocks, singles], ignore_index=True)
    return out.assign(segment_id=seg)


def _slices(index_dir: str, span: int) -> list[tuple[int, int, int]]:
    out = []
    for seg, (lo, hi) in sorted(_segments(index_dir).items()):
        for sl in range(lo // span, (hi - 1) // span + 1):
            out.append((seg, max(lo, sl * span), min(hi, (sl + 1) * span)))
    return out


# --- build ------------------------------------------------------------------

def build_layers(pdf: pd.DataFrame, index_dir: str, stop) -> dict[str, float]:
    """Analysis and invert replays over the docs of the largest segment."""
    from lucene_spark.index.builder import _invert_segment, get_bulk_analyzer

    segs = _segments(index_dir)
    seg = max(segs, key=lambda s: segs[s][1] - segs[s][0])
    urls = set(
        _data(index_dir).to_table(
            columns=["url"],
            filter=(ds.field("kind") == KIND_DOC) & (ds.field("segment_id") == seg),
        ).column("url").to_pylist()
    )
    group = pdf[pdf["url"].isin(urls)].assign(segment_id=seg)

    analyze = get_bulk_analyzer("standard")
    rates = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        n = sum(len(analyze(text, stop)[0]) for text in group["text"])
        rates.append(n / (time.perf_counter() - t0))
    task = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        _invert_segment(group, "standard", stop, False, True)
        task.append(time.perf_counter() - t0)
    return {
        "analysis.tokens_per_s": statistics.median(rates),
        "index.builder.task_s": statistics.median(task),
    }


def merge_layers(bench) -> dict[str, float]:
    from lucene_spark.index.merge import merge_segments
    from lucene_spark.index.reader import IndexReader

    out = os.path.join(os.path.dirname(bench.index), "merged")
    with bench.jobs.call("merge") as gid:
        t0 = time.perf_counter()
        m = merge_segments(bench.spark, bench.index, out, target_segments=1)
        secs = time.perf_counter() - t0
    jobs, stages, _ = bench.jobs.counts(gid)
    bench.checks("merge.n_docs", m["n_docs"] == len(bench.pdf), f"{m['n_docs']}")
    bench.checks(
        "merge.global_stats",
        IndexReader(bench.spark, out).global_stats == bench.searcher.reader.global_stats,
    )
    return {"index.merge.s": secs, "index.merge.jobs": jobs, "index.merge.stages": stages}


def check_index_both(bench) -> None:
    """The engine's CheckIndex on the built index and on its merge."""
    from lucene_spark.index.invariants import check_index
    from lucene_spark.index.merge import merge_segments

    out = os.path.join(os.path.dirname(bench.index), "checked-merge")
    merge_segments(bench.spark, bench.index, out, target_segments=1)
    for name, d in (("built", bench.index), ("merged", out)):
        viols = check_index(bench.spark, d)
        bench.checks(f"check_index.{name}", viols == [], f"{viols[:5]}")


# --- codecs -------------------------------------------------------------------

def codec_layers(index_dir: str, terms: list[str]) -> dict[str, float]:
    """Round trip of every stored block of ``terms`` through the block
    codecs: decode docids, freqs and positions, then re-encode per term."""
    from lucene_spark.codecs.blocks import (
        decode_block_docids,
        decode_block_freqs,
        decode_positions,
        encode_term_postings,
    )

    rows = _data(index_dir).to_table(
        columns=["segment_id", "term", "block_no", "n_docs", "base_docid", "last_docid",
                 "encoding", "docids_enc", "freqs_enc", "norms_enc", "positions_enc"],
        filter=(ds.field("kind") == KIND_BLOCK) & ds.field("term").isin(terms)
        & (ds.field("encoding") < ENC_SINGLETON),
    ).to_pandas().sort_values(["segment_id", "term", "block_no"])
    n_docs = int(rows["n_docs"].sum())
    dec, enc = [], []
    for _ in range(REPS):
        t0 = time.perf_counter()
        decoded = []
        for r in rows.itertuples(index=False):
            d = decode_block_docids(r.encoding, r.docids_enc, r.n_docs, r.base_docid, r.last_docid)
            f = decode_block_freqs(r.encoding, r.freqs_enc, r.n_docs)
            p = decode_positions(r.positions_enc, f)
            decoded.append((r.segment_id, r.term, d, f, r.norms_enc, p))
        dec.append(time.perf_counter() - t0)
        per_term: dict[tuple, list] = {}
        for seg, term, d, f, nb, p in decoded:
            per_term.setdefault((seg, term), []).append((d, f, nb, p))
        t0 = time.perf_counter()
        for parts in per_term.values():
            encode_term_postings(
                np.concatenate([x[0] for x in parts]),
                np.concatenate([x[1] for x in parts]),
                np.frombuffer(b"".join(x[2] for x in parts), dtype=np.uint8).astype(np.int64),
                np.concatenate([x[3] for x in parts]),
            )
        enc.append(time.perf_counter() - t0)
    return {
        "codecs.decode_docs_per_s": n_docs / statistics.median(dec),
        "codecs.encode_docs_per_s": n_docs / statistics.median(enc),
    }


# --- search -----------------------------------------------------------------

def _prepared(searcher, q: str):
    from lucene_spark.search.query import rewrite

    return rewrite(searcher.expand_multiterm(searcher.parse(q)))


def query_layers(bench, tr, K: int, span: int) -> dict[str, float]:
    """Per-layer timings of PROBE_SHAPES single queries and one batch on a
    fresh Searcher, with the kernel replayed per (segment, slice) task."""
    from lucene_spark.codecs.blocks import decode_block_docids, decode_block_freqs
    from lucene_spark.index.reader import IndexReader
    from lucene_spark.search import Searcher
    from lucene_spark.search.query import collect_terms
    from lucene_spark.search.scorers import build_scorers
    from lucene_spark.search.segment import (
        SegmentContext,
        batch_search_segment,
        search_segment,
    )
    from perfbench.corpus import batch_queries, fresh_queries

    spark, idx, seed = bench.spark, bench.index, bench.args.seed + PROBE_SEED_OFFSET
    L: dict[str, list[float]] = {}

    def add(name: str, v: float) -> None:
        L.setdefault(name, []).append(v)

    for _ in range(REPS):
        t0 = time.perf_counter()
        r = IndexReader(spark, idx)
        r.global_stats
        r.term_blooms
        add("index.reader.open_s", time.perf_counter() - t0)

    p = Searcher(spark, idx, stopwords=bench.stop, slice_docs=span)
    doc_count, sum_ttf = p.reader.global_stats
    slices = _slices(idx, span)
    probes = dict(itertools.islice(fresh_queries(seed), 24))  # one pass: every shape
    all_terms: set[str] = set()
    for shape in PROBE_SHAPES:
        q = probes[shape]
        with tr.span("probe_query"):
            t0 = time.perf_counter()
            ast = _prepared(p, q)
            add("search.searcher.parse_ms", _ms(t0))
            terms = sorted(collect_terms(ast))
            all_terms.update(terms)
            t0 = time.perf_counter()
            got = p.reader.term_stats(terms)
            add("index.reader.term_stats_ms", _ms(t0))
            with bench.jobs.call("probe") as gid:
                t0 = time.perf_counter()
                df = p.search(q, k=K)
                add("search.searcher.plan_ms", _ms(t0))
                t0 = time.perf_counter()
                df.collect()
                exec_ms = _ms(t0)
            add("search.searcher.exec_ms", exec_ms)
            jobs, stages, tasks = bench.jobs.counts(gid)
            add("search.searcher.jobs_per_query", jobs)
            add("search.searcher.stages_per_query", stages)
            add("search.searcher.tasks_per_query", tasks)

            tstats = {t: got.get(t, (0, 0)) for t in terms}
            scorers = build_scorers([ast], tstats, doc_count, sum_ttf, p.mode)
            kernel = rows_n = 0.0
            for seg, lo, hi in slices:
                pdf = task_rows(idx, seg, lo, hi, terms)
                rows_n += len(pdf)
                t0 = time.perf_counter()
                ctx = SegmentContext.from_pdf(pdf, scorers, lo, hi, True)
                from_pdf = _ms(t0)
                t0 = time.perf_counter()
                search_segment(ctx, ast, K)
                pruned = _ms(t0)
                ctx = SegmentContext.from_pdf(pdf, scorers, lo, hi, False)
                t0 = time.perf_counter()
                search_segment(ctx, ast, K)
                exhaustive = _ms(t0)
                kernel += from_pdf + pruned
                add("search.segment.from_pdf_ms", from_pdf)
                if shape.startswith("phrase"):
                    add("search.segment.phrase_ms", pruned)
                else:
                    add("search.segment.pruned_ms", pruned)
                    add("search.segment.exhaustive_ms", exhaustive)
            add("search.segment.block_rows_per_query", rows_n)
            add("search.segment.kernel_share", kernel / exec_ms)

    out = {k: statistics.median(v) for k, v in L.items()}
    out.update(codec_layers(idx, sorted(all_terms)))

    qs = batch_queries(seed, 0, bench.size["batch"])
    with tr.span("probe_batch"):
        with bench.jobs.call("probe_batch") as gid:
            t0 = time.perf_counter()
            df = p.search_many(qs, k=K)
            out["search.searcher.batch_plan_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            df.collect()
            out["search.searcher.batch_exec_s"] = time.perf_counter() - t0
        (out["search.searcher.batch_jobs"], out["search.searcher.batch_stages"],
         out["search.searcher.batch_tasks"]) = bench.jobs.counts(gid)

        parsed = {qid: _prepared(p, q) for qid, q in qs.items()}
        terms = sorted(set().union(*(collect_terms(a) for a in parsed.values())))
        got = p.reader.term_stats(terms)
        scorers = build_scorers(
            list(parsed.values()), {t: got.get(t, (0, 0)) for t in terms},
            doc_count, sum_ttf, p.mode,
        )
        seg, lo, hi = max(slices, key=lambda s: s[2] - s[1])
        pdf = task_rows(idx, seg, lo, hi, terms)
        t0 = time.perf_counter()
        ctx = SegmentContext.from_pdf(pdf, scorers, lo, hi, True)
        out["search.segment.batch_from_pdf_ms"] = _ms(t0)
        t0 = time.perf_counter()
        batch_search_segment(ctx, parsed, K)
        out["search.segment.batch_eval_ms"] = _ms(t0)
        blocks = pdf[pdf["encoding"] < ENC_SINGLETON]
        t0 = time.perf_counter()
        for r in blocks.itertuples(index=False):
            decode_block_docids(r.encoding, r.docids_enc, r.n_docs, r.base_docid, r.last_docid)
            decode_block_freqs(r.encoding, r.freqs_enc, r.n_docs)
        out["codecs.decode_ms"] = _ms(t0)
    return out
