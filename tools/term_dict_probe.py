#!/usr/bin/env python
"""Timing probe for query-time reads of the term dictionary.

Builds (or reuses, with --index) a seeded two-segment index whose
vocabulary holds --terms distinct random lowercase words plus a few
neighbours of ``sorting``, with no download: each doc carries its own
slice of the vocabulary and a few Zipf-drawn common words, so dfs vary.
Then it times, per shape, the first call and the median of --reps more:

- ``reader.expand_terms_df`` for prefix, wildcard, regexp and range
  shapes, with the arguments ``Searcher`` passes for them;
- ``searcher._fuzzy_matches`` for ``sorting~1`` and ``sorting~2`` at
  ``prefix_length`` 0 and 2;
- ``reader.term_plan`` of four ``NEIGHBOURS`` (a search call's
  ``term IN (...)`` read).

The first call of each shape runs on an empty decoded-column cache
(``index.reader.SEGMENT_CACHE``, where the version has one), so it
decodes the parquet it reads; the later calls are warm.

Both names and signatures are the engine's own, so the probe runs
unchanged on any version that has them. Each row also prints the number of
expanded terms and a digest of the (term, df[, edits]) list, to compare
answers across versions.

Usage:
    python tools/term_dict_probe.py [--terms 1000000] [--seed 1]
                                    [--cores 4] [--reps 5] [--index DIR]

At the defaults the build took ~20 s, and the whole probe 1–3 min, at
local[4] on a shared 4-core box.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

from lucene_spark.search.query import wildcard_to_regex  # noqa: E402
from probe_cache import drop_cache  # noqa: E402

WORDS_PER_DOC = 50
COMMON = 1000  # the Zipf-drawn head of the vocabulary
NEIGHBOURS = ["sorting", "sortings", "sortin", "sorling", "osrting", "sortnig",
              "snorting", "porting", "sorted", "sorter", "sortino"]


def vocabulary(n_terms: int, seed: int) -> list[str]:
    """``n_terms`` distinct lowercase words of 4–11 letters, the
    ``NEIGHBOURS`` among them, in seeded order."""
    rng = np.random.default_rng(seed)
    out = dict.fromkeys(NEIGHBOURS)
    while len(out) < n_terms:
        n = 2 * (n_terms - len(out))
        lens = rng.integers(4, 12, n)
        codes = rng.integers(97, 123, (n, 11), dtype=np.uint8)
        for row, ln in zip(codes, lens):
            out.setdefault(row[:ln].tobytes().decode())
            if len(out) == n_terms:
                break
    words = list(out)
    rng.shuffle(words)
    return words


def corpus(n_terms: int, seed: int) -> pd.DataFrame:
    """(url, text) rows: doc i holds vocabulary slice i and five common
    words."""
    words = vocabulary(n_terms, seed)
    rng = np.random.default_rng(seed + 1)
    common = np.minimum(rng.zipf(1.3, (len(words) // WORDS_PER_DOC + 1, 5)), COMMON) - 1
    texts = [
        " ".join(words[lo : lo + WORDS_PER_DOC] + [words[j] for j in common[i]])
        for i, lo in enumerate(range(0, len(words), WORDS_PER_DOC))
    ]
    return pd.DataFrame({"url": [f"https://probe.example/{i}" for i in range(len(texts))],
                         "text": texts})


def build(spark, n_terms: int, seed: int, path: str) -> float:
    from lucene_spark.index import build_index

    t0 = time.perf_counter()
    df = spark.createDataFrame(corpus(n_terms, seed), "url string, text string")
    build_index(spark, df, path, num_segments=2, index_positions=False)
    return time.perf_counter() - t0


def shapes(reader, searcher) -> list[tuple[str, object]]:
    """(label, zero-argument call) per probed shape."""
    out = []
    for label, pat in (("wildcard so?t*", "so?t*"), ("wildcard *ting", "*ting")):
        lit, rx = wildcard_to_regex(pat)
        out.append((label, lambda lit=lit, rx=rx: reader.expand_terms_df(
            prefix=lit or None, pattern=rx)))
    out += [
        ("prefix sor*", lambda: reader.expand_terms_df(prefix="sor")),
        ("regexp /sor[a-z]ing/", lambda: reader.expand_terms_df(pattern="^sor[a-z]ing$")),
        ("range [sora TO sorz]", lambda: reader.expand_terms_df(low="sora", high="sorz")),
    ]
    for edits in (1, 2):
        for pl in (0, 2):
            out.append((f"fuzzy sorting~{edits} prefix_length={pl}",
                        lambda e=edits, p=pl: sorted(searcher._fuzzy_matches("sorting", e, p))))
    out.append(("term IN (4 terms)",
                lambda: sorted(reader.term_plan(NEIGHBOURS[:4])[0].items())))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--terms", type=int, default=1_000_000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--index", default=None,
                    help="index directory: built there when missing, reused otherwise")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from lucene_spark.search import Searcher

    root = None if args.index else tempfile.mkdtemp(prefix="term_dict_probe_")
    path = args.index or f"{root}/idx"
    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if not os.path.isdir(path):
            print(f"# built {path} in {build(spark, args.terms, args.seed, path):.0f} s")
        searcher = Searcher(spark, path)
        reader = searcher.reader
        n = sum(pq.ParquetFile(f).metadata.num_rows
                for r in reader.manifest_rows
                for f in glob.glob(f"{path}/data/kind=1/segment_id={r['segment_id']}/*.parquet"))
        print(f"# local[{args.cores}], {n} term-dict rows; "
              f"first call (cold), then median of {args.reps}")
        print("| shape | first ms | median ms | terms | digest |")
        print("|---|---:|---:|---:|---|")
        for label, call in shapes(reader, searcher):
            times = []
            drop_cache()
            for _ in range(args.reps + 1):
                t0 = time.perf_counter()
                got = call()
                times.append(1e3 * (time.perf_counter() - t0))
            digest = hashlib.sha1(repr(got).encode()).hexdigest()[:10]
            print(f"| {label} | {times[0]:.0f} | {statistics.median(times[1:]):.0f} "
                  f"| {len(got)} | {digest} |", flush=True)
    finally:
        spark.stop()
        if root is not None:
            shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
