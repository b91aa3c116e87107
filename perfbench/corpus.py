"""Seeded benchmark inputs: the webtext corpus and the two query streams.

Everything derives from the ``--seed`` argument; the engine only ever sees
the generated rows and query strings.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd

from lucene_spark.fixtures import generate_webtext, reference_queries

_TERM = re.compile(r"w(\d{4})")
# df bands of the fixture vocabulary (Zipf rank = term number): the same
# hot / mid / rare split bench._query_batch remaps within
HOT, MID, RARE = range(0, 100), range(100, 1000), range(8000, 10_000)


def corpus(n_docs: int, seed: int) -> pd.DataFrame:
    """(url, text) rows of ``fixtures.generate_webtext``."""
    rows = generate_webtext(n_docs, seed=seed)
    return pd.DataFrame({"url": [r["url"] for r in rows], "text": [r["text"] for r in rows]})


def _band(n: int) -> range:
    return HOT if n < 100 else MID if n < 8000 else RARE


def _round_robin() -> list[tuple[str, str]]:
    """The reference shapes taken in turn from each family (single, and, or,
    mixed, phrase), so that the first calls of a short run already mix the
    families; the stopword-only ``single_9`` comes last."""
    families: dict[str, list] = {}
    for shape, qs in reference_queries():
        if shape != "single_9":
            families.setdefault(shape.split("_")[0], []).append((shape, qs))
    out = []
    while any(families.values()):
        out += [f.pop(0) for f in families.values() if f]
    return out + [s for s in reference_queries() if s[0] == "single_9"]


def fresh_queries(seed: int) -> Iterator[tuple[str, str]]:
    """(shape, query) stream over the 24 reference shapes, family by family
    in turn, in which every term occurrence is a term not used before, drawn
    from a seeded permutation of its df band. No query repeats and a
    Searcher's term-stats cache never hits. The stream ends when a band is
    used up: the hot band, 22 terms a pass, after about 100 queries."""
    rng = np.random.default_rng(seed)
    pools = {b: iter(rng.permutation(np.asarray(b))) for b in (HOT, MID, RARE)}

    def draw(m: re.Match) -> str:
        return f"w{next(pools[_band(int(m.group(1)))]):04d}"

    while True:
        for shape, qs in _round_robin():
            try:
                q = _TERM.sub(draw, qs)
            except StopIteration:
                return
            yield shape, q


def query_terms(queries) -> list[str]:
    """The fixture terms named in ``queries``, sorted, each once."""
    return sorted({f"w{n}" for q in queries for n in _TERM.findall(q)})


def _remap(n: int, r: int) -> str:
    if n < 100:
        return f"w{(n + r) % 100:04d}"
    if n < 8000:
        return f"w{100 + (n - 100 + 37 * r) % 900:04d}"
    return f"w{8000 + (n - 8000 + 211 * r) % 2000:04d}"


def batch_queries(seed: int, batch_no: int, size: int) -> dict[str, str]:
    """``size`` distinct queries for one search_many call: the 24 reference
    shapes remapped per rep within each df band, as bench._query_batch does
    except that hot terms range over the whole hot band (%100, not %10). A
    remapped string already in the batch is skipped, so every query in the
    batch is distinct while hot terms repeat across them.

    The first rep is a multiple of 100, so the hot terms of a batch are the
    same for every seed and batch: their df falls steeply with rank, and a
    seed-dependent hot offset moved a batch's work by up to 5x. The seed
    and the batch number pick the mid and rare terms."""
    r = 100 * int(np.random.default_rng(seed).integers(0, 1 << 14)) + batch_no * size
    out: dict[str, str] = {}
    seen: set[str] = set()
    while len(out) < size:
        for shape, qs in reference_queries():
            q = _TERM.sub(lambda m: _remap(int(m.group(1)), r), qs)
            if q not in seen and len(out) < size:
                seen.add(q)
                out[f"{shape}_v{r}"] = q
        r += 1
    return out
