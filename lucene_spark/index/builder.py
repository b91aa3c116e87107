"""Distributed index build: webtext DataFrame → index tables.

Spark-first design (NOT a port of Lucene's IndexWriter):

- one shuffle total: rows are hash-assigned to ``num_segments`` segments by
  url and grouped with ``groupBy(segment_id).applyInPandas`` — each group
  builds one complete, self-contained segment exactly like a
  DocumentsWriterPerThread flush (reference:
  lucene/core/src/java/org/apache/lucene/index/DocumentsWriterPerThread.java:242-274 —
  per-thread independence is what licenses per-partition independence here);
- inside the group everything is vectorized numpy/pandas over Arrow batches:
  tokenize → factorize terms → lexsort (term, docid, position) → run-length
  encode (term, doc) freqs → per-term 128-doc block encoding
  (codecs/blocks.py, mirroring Lucene103PostingsWriter.java:388-489);
- docids are deterministic: rank of url within the segment
  (``IndexingChain.processDocument(numDocsInRAM++)`` analog,
  index/DocumentsWriterPerThread.java:274);
- norms: ``SmallFloat.intToByte4(doc_len)``
  (search/similarities/Similarity.java:152-162);
- singleton pulsing: df==1 terms live inline in term_dict, no postings rows
  (Lucene103PostingsWriter.java:564-571);
- all tables are written partitioned by segment_id with dynamic partition
  overwrite → per-segment idempotence; the manifest (segments_N analog,
  index/SegmentInfos.java:55-64) is swapped last, so a crashed build leaves
  the previous commit point intact and ``resume=True`` skips segments the
  manifest already marks done.

Scale notes (the design target is 10^12 docs / 1000 executors):
- segment size is bounded by ``num_segments`` — pick ~input partition count
  so each group ≈ one HDFS-split of text (the 16MB-DWPT analog scaled to
  Spark task memory);
- the single shuffle is on ``pmod(xxhash64(url), num_segments)`` — uniform
  by construction, no skew regardless of content;
- per-segment builds never coordinate; failures re-run one partition.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.featurefield import encode_feature
from ..analysis.cjk import cjk_analyze, cjk_terms_positions
from ..analysis.classic import classic_analyze, classic_terms_positions
from ..analysis.ja import japanese_analyze, japanese_terms_positions
from ..analysis.ko import korean_analyze, korean_terms_positions
from ..analysis.th import thai_analyze, thai_terms_positions
from ..analysis.stempel import polish_analyze, polish_terms_positions
from ..analysis.smartcn import smart_chinese_analyze, smartcn_terms_positions
from ..analysis.de import german_analyze, german_terms_positions
from ..analysis.es import spanish_analyze, spanish_terms_positions
from ..analysis.fr import french_analyze, french_terms_positions
from ..analysis.it import italian_analyze, italian_terms_positions
from ..analysis.ar import arabic_analyze, arabic_terms_positions
from ..analysis.hu import hungarian_analyze, hungarian_terms_positions
from ..analysis.icu import (
    icu_folding_analyze,
    icu_folding_terms_positions,
)
from ..analysis.urlemail import url_email_analyze, url_email_terms_positions
from ..analysis.metaphone import (
    double_metaphone_analyze,
    double_metaphone_terms_positions,
)
from ..analysis.phonetic import (
    caverphone2_analyze,
    caverphone2_terms_positions,
    cologne_analyze,
    cologne_terms_positions,
    nysiis_analyze,
    nysiis_terms_positions,
    match_rating_analyze,
    match_rating_terms_positions,
    refined_soundex_analyze,
    refined_soundex_terms_positions,
    soundex_analyze,
    soundex_terms_positions,
)
from ..analysis.pt import portuguese_analyze, portuguese_terms_positions
from ..analysis.ru import russian_analyze, russian_terms_positions
from ..analysis.worddelim import (
    word_delimiter_analyze,
    word_delimiter_terms_positions,
)
from ..analysis.bg import bulgarian_analyze, bulgarian_terms_positions
from ..analysis.commongrams import (
    common_grams_analyze,
    common_grams_terms_positions,
)
from ..analysis.cs import czech_analyze, czech_terms_positions
from ..analysis.el import greek_analyze, greek_terms_positions
from ..analysis.bn import bengali_analyze, bengali_terms_positions
from ..analysis.ckb import sorani_analyze, sorani_terms_positions
from ..analysis.da import danish_analyze, danish_terms_positions
from ..analysis.nl import dutch_analyze, dutch_terms_positions
from ..analysis.lt import lithuanian_analyze, lithuanian_terms_positions
from ..analysis.ro import romanian_analyze, romanian_terms_positions
from ..analysis.et import estonian_analyze, estonian_terms_positions
from ..analysis.eu import basque_analyze, basque_terms_positions
from ..analysis.hy import armenian_analyze, armenian_terms_positions
from ..analysis.br import brazilian_analyze, brazilian_terms_positions
from ..analysis.ca import catalan_analyze, catalan_terms_positions
from ..analysis.ne import nepali_analyze, nepali_terms_positions
from ..analysis.sr import serbian_analyze, serbian_terms_positions
from ..analysis.ta import tamil_analyze, tamil_terms_positions
from ..analysis.te import telugu_analyze, telugu_terms_positions
from ..analysis.ga import irish_analyze, irish_terms_positions
from ..analysis.tr import turkish_analyze, turkish_terms_positions
from ..analysis.fa import persian_analyze, persian_terms_positions
from ..analysis.gl import galician_analyze, galician_terms_positions
from ..analysis.hi import hindi_analyze, hindi_terms_positions
from ..analysis.id import indonesian_analyze, indonesian_terms_positions
from ..analysis.lv import latvian_analyze, latvian_terms_positions
from ..analysis.sv import swedish_analyze, swedish_terms_positions
from ..analysis.no_ import norwegian_analyze, norwegian_terms_positions
from ..analysis.fi import finnish_analyze, finnish_terms_positions
from ..analysis.en import english_analyze, english_terms_positions
from ..analysis.folding import folded_analyze
from ..analysis.ngram import edge_ngram_analyze, ngram_analyze
from ..analysis.shingle import shingle_analyze, shingle_terms_positions
from ..analysis.simple import simple_analyze, simple_terms_positions
from ..analysis.tokenizer import analyze as standard_analyze
from ..analysis.tokenizer import analyze_terms_positions
from ..analysis.vectorized import analyze_batch
from ..analysis.html_extract import extract_text
from ..codecs.blocks import (
    ENC_VBYTE_TAIL,
    encode_positions,
    encode_term_postings,
)
from ..codecs.intcodecs import vbyte_encode_concat
from ..constants import BLOCK_SIZE
from ..functions.smallfloat import int_to_byte4
from .smallio import FIELD_STATS_SCHEMA, MANIFEST_SCHEMA, write_driver_table
from .schemas import (
    DOCMAP_COLS,
    KIND_BLOCK,
    KIND_DOC,
    KIND_TERM,
    KIND_STATS,
    POSTINGS_COLS,
    TERM_DICT_COLS,
    UNIFIED_BUILD_SCHEMA,
)

__all__ = ["build_index", "get_analyzer", "TABLES"]

TABLES = ("docmap", "postings", "term_dict", "field_stats", "segment_manifest")

_UNIFIED_TAIL = UNIFIED_BUILD_SCHEMA.fieldNames()[2:]

_ANALYZERS: dict[str, Callable] = {
    "standard": standard_analyze,
    "simple": simple_analyze,
    "english": english_analyze,
    "shingle": shingle_analyze,      # standard + bigram shingles/unigrams
    "ngram3": ngram_analyze,         # standard + char trigrams
    "edge_ngram": edge_ngram_analyze,  # standard + edge grams 2..4
    "ascii_folded": folded_analyze,  # standard + ASCII folding before stop
    "cjk": cjk_analyze,              # standard + CJK bigrams (CJKAnalyzer)
    "classic": classic_analyze,      # pre-3.1 StandardTokenizer grammar (ClassicAnalyzer)
    "german": german_analyze,        # standard + normalize + light stem
    "french": french_analyze,        # standard + elision + light stem
    "spanish": spanish_analyze,      # standard + Savoy light stem
    "italian": italian_analyze,      # standard + elision + light stem
    "portuguese": portuguese_analyze,  # standard + Savoy light stem
    "russian": russian_analyze,      # standard + Dolamic-Savoy light stem
    "hungarian": hungarian_analyze,  # standard + Savoy 4-pass light stem
    "word_delimiter": word_delimiter_analyze,  # case/number part splitting
    "arabic": arabic_analyze,        # standard + normalize + light10 stem
    "soundex": soundex_analyze,      # standard + classic Soundex codes
    "swedish": swedish_analyze,      # standard + UniNE light stem
    "norwegian": norwegian_analyze,  # standard + UniNE light stem (Bokmål)
    "finnish": finnish_analyze,      # standard + UniNE 5-pass light stem
    "czech": czech_analyze,          # standard + Dolamic-Savoy light stem
    "bulgarian": bulgarian_analyze,  # standard + BulStem light stem
    "persian": persian_analyze,      # standard + Arabic+Persian normalize
    "refined_soundex": refined_soundex_analyze,  # commons-codec refined
    "caverphone2": caverphone2_analyze,  # Caverphone 2.0 (Hood 2004)
    "common_grams": common_grams_analyze,  # stopword-adjacent bigram stacks
    "hindi": hindi_analyze,          # standard + normalize + light stem
    "indonesian": indonesian_analyze,  # standard + ATW 2005 stemmer
    "galician_minimal": galician_analyze,  # standard + RSLP plural step
    "latvian": latvian_analyze,      # standard + Kreslins light stem
    "greek": greek_analyze,          # greek lowercase + Ntais stemmer
    "irish": irish_analyze,          # hyphenation stop + elision + snowball
    "turkish": turkish_analyze,      # apostrophe + tr lowercase + snowball
    "bengali": bengali_analyze,      # lowercase + digit fold + norm + stem
    "sorani": sorani_analyze,        # ckb normalize + digit fold + stem
    "tamil": tamil_analyze,          # ta digit fold + indic norm + snowball
    "telugu": telugu_analyze,        # te normalize + digit fold + stem
    "danish": danish_analyze,        # snowball Danish stem
    "dutch": dutch_analyze,          # override dict + snowball Dutch
    "lithuanian": lithuanian_analyze,  # snowball Lithuanian stem
    "romanian": romanian_analyze,    # cedilla norm + snowball Romanian
    "estonian": estonian_analyze,    # snowball Estonian (verb-exception) stem
    "basque": basque_analyze,        # snowball Basque stem
    "armenian": armenian_analyze,    # snowball Armenian stem
    "brazilian": brazilian_analyze,  # fold-diacritics + Lucene RSLP-style stem
    "catalan": catalan_analyze,      # elision + snowball Catalan stem
    "nepali": nepali_analyze,        # digit fold + snowball Nepali stem
    "serbian": serbian_analyze,      # snowball Serbian stem + normalization
    "nysiis": nysiis_analyze,        # NYSIIS name codes (Taft 1970)
    "cologne": cologne_analyze,      # Kölner Phonetik codes (Postel 1969)
    "double_metaphone": double_metaphone_analyze,  # Philips 2000, 2 codes
    "icu_folding": icu_folding_analyze,  # UTR#30 search folding
    "url_email": url_email_analyze,      # UAX29URLEmailTokenizer chain
    "match_rating": match_rating_analyze,  # commons-codec MRA codes
    # kuromoji / nori analogs (Viterbi lattice, analysis/lattice.py)
    "japanese": japanese_analyze,    # JapaneseAnalyzer chain, SEARCH mode
    "japanese_normal": lambda text, stopwords=None: japanese_analyze(
        text, stopwords, mode="normal"
    ),
    "korean": korean_analyze,        # KoreanAnalyzer chain, DISCARD
    "korean_mixed": lambda text, stopwords=None: korean_analyze(
        text, stopwords, decompound="mixed"
    ),
    "korean_none": lambda text, stopwords=None: korean_analyze(
        text, stopwords, decompound="none"
    ),
    "thai": thai_analyze,            # ThaiAnalyzer chain, maximal matching
    "polish": polish_analyze,        # PolishAnalyzer chain, stempel demo table
    "smartcn": smart_chinese_analyze,  # SmartChineseAnalyzer chain, HHMM
}


def get_analyzer(name: str) -> Callable:
    got = _ANALYZERS.get(name)
    if got is not None:
        return got
    from ..analysis.custom import custom_analyze_fn

    fn = custom_analyze_fn(name)
    if fn is None:
        raise KeyError(
            f"unknown analyzer {name!r} (register one with "
            "lucene_spark.analysis.custom.register_term_analyzer)"
        )
    return fn


def _ngram_terms_positions(text, stopwords=None):
    toks = ngram_analyze(text, stopwords)
    return [t.term for t in toks], [t.position for t in toks]


def _edge_terms_positions(text, stopwords=None):
    toks = edge_ngram_analyze(text, stopwords)
    return [t.term for t in toks], [t.position for t in toks]


_BULK_ANALYZERS: dict[str, Callable] = {
    "standard": analyze_terms_positions,
    "simple": simple_terms_positions,
    "english": english_terms_positions,
    "shingle": shingle_terms_positions,
    "ngram3": _ngram_terms_positions,
    "edge_ngram": _edge_terms_positions,
    "ascii_folded": lambda text, stopwords=None: (
        lambda toks: ([t.term for t in toks], [t.position for t in toks])
    )(folded_analyze(text, stopwords)),
    "cjk": cjk_terms_positions,
    "german": german_terms_positions,
    "french": french_terms_positions,
    "spanish": spanish_terms_positions,
    "italian": italian_terms_positions,
    "portuguese": portuguese_terms_positions,
    "russian": russian_terms_positions,
    "hungarian": hungarian_terms_positions,
    "word_delimiter": word_delimiter_terms_positions,
    "arabic": arabic_terms_positions,
    "soundex": soundex_terms_positions,
    "swedish": swedish_terms_positions,
    "norwegian": norwegian_terms_positions,
    "finnish": finnish_terms_positions,
    "czech": czech_terms_positions,
    "bulgarian": bulgarian_terms_positions,
    "persian": persian_terms_positions,
    "refined_soundex": refined_soundex_terms_positions,
    "caverphone2": caverphone2_terms_positions,
    "common_grams": common_grams_terms_positions,
    "hindi": hindi_terms_positions,
    "indonesian": indonesian_terms_positions,
    "galician_minimal": galician_terms_positions,
    "latvian": latvian_terms_positions,
    "greek": greek_terms_positions,
    "irish": irish_terms_positions,
    "turkish": turkish_terms_positions,
    "bengali": bengali_terms_positions,
    "sorani": sorani_terms_positions,
    "tamil": tamil_terms_positions,
    "telugu": telugu_terms_positions,
    "danish": danish_terms_positions,
    "dutch": dutch_terms_positions,
    "lithuanian": lithuanian_terms_positions,
    "romanian": romanian_terms_positions,
    "estonian": estonian_terms_positions,
    "basque": basque_terms_positions,
    "armenian": armenian_terms_positions,
    "brazilian": brazilian_terms_positions,
    "catalan": catalan_terms_positions,
    "nepali": nepali_terms_positions,
    "serbian": serbian_terms_positions,
    "nysiis": nysiis_terms_positions,
    "cologne": cologne_terms_positions,
    "double_metaphone": double_metaphone_terms_positions,
    "icu_folding": icu_folding_terms_positions,
    "url_email": url_email_terms_positions,
    "classic": classic_terms_positions,
    "match_rating": match_rating_terms_positions,
    "japanese": japanese_terms_positions,
    "japanese_normal": lambda text, stopwords=None: (
        lambda toks: ([t.term for t in toks], [t.position for t in toks])
    )(japanese_analyze(text, stopwords, mode="normal")),
    "korean": korean_terms_positions,
    "korean_mixed": lambda text, stopwords=None: (
        lambda toks: ([t.term for t in toks], [t.position for t in toks])
    )(korean_analyze(text, stopwords, decompound="mixed")),
    "korean_none": lambda text, stopwords=None: (
        lambda toks: ([t.term for t in toks], [t.position for t in toks])
    )(korean_analyze(text, stopwords, decompound="none")),
    "thai": thai_terms_positions,
    "polish": polish_terms_positions,
    "smartcn": smartcn_terms_positions,
}


def get_bulk_analyzer(name: str) -> Callable:
    """(text, stopwords) -> (terms, positions) without Token objects — the
    build hot path (per-token objects dominate allocator load at 2M+ tokens
    per segment group; differentially tested against the Token chain)."""
    got = _BULK_ANALYZERS.get(name)
    if got is not None:
        return got
    from ..analysis.custom import custom_terms_positions_fn

    fn = custom_terms_positions_fn(name)
    if fn is None:
        raise KeyError(f"unknown analyzer {name!r}")
    return fn


def _delta_with_resets(values: np.ndarray, reset_mask: np.ndarray, reset_base) -> np.ndarray:
    """deltas[i] = v[i] - v[i-1], except where reset_mask: v[i] - base."""
    out = np.empty(values.size, dtype=np.int64)
    if values.size == 0:
        return out
    out[0] = 0
    np.subtract(values[1:], values[:-1], out=out[1:])
    out[reset_mask] = values[reset_mask] - reset_base[reset_mask] if isinstance(
        reset_base, np.ndarray
    ) else values[reset_mask] - reset_base
    return out


FIELD_SEP = "\x1f"  # internal (field, token) key: "<field>\x1f<token>"


def field_term(field: str, token: str) -> str:
    """Internal term key of ``token`` in ``field`` (the per-field term-dict
    namespacing Lucene gets from per-field codec files)."""
    return f"{field}{FIELD_SEP}{token}"


def feature_term(name: str) -> str:
    """Term key of feature ``name``'s posting list (FeatureField's pseudo
    terms, document/FeatureField.java:184): freq = the encoded feature
    value. The leading separator keeps it outside every field namespace
    (field names are non-empty), so no text token can collide."""
    return f"{FIELD_SEP}#{name}"


def exists_term(field: str) -> str:
    """The per-field existence posting list's term key: one posting per doc
    with ≥1 token in the field, freq = the field's token count, norm = the
    field's norm byte. Doubles as the field's CollectionStatistics —
    df = docCount(field), ttf = sumTotalTermFreq(field) — and as the
    FieldExistsQuery doc set (search/FieldExistsQuery.java:39; Lucene reads
    the same answers from norms metadata)."""
    return f"{field}{FIELD_SEP}"


def _invert_segment(
    pdf: pd.DataFrame,
    analyzer_name: str,
    stopwords: frozenset[str] | None,
    html_input: bool,
    index_positions: bool,
    fields: list[tuple[str, str]] | None = None,
    features: list[tuple[str, str]] | None = None,
    synonyms: dict | None = None,
    synonyms_keep_original: bool = True,
    index_sort: str | None = None,
    field_analyzers: dict[str, str] | None = None,
    payload_fn: Callable | None = None,
    doc_values: list[tuple[str, str]] | None = None,
    custom_chains: dict[str, Callable] | None = None,
    custom_token_chains: dict[str, tuple] | None = None,
    lang_col: str | None = None,
    lang_analyzers: dict[str, str] | None = None,
) -> pd.DataFrame:
    """Build one segment from its documents (runs on an executor).

    Everything after tokenization is batch-vectorized: per-term python only
    happens for terms with >128 docs (the Zipf head — a handful per
    segment); the long tail (tail blocks and pulsed singletons) is encoded
    in single concatenated numpy passes with byte-offset slicing
    (codecs/intcodecs.vbyte_encode_concat), byte-identical to the per-term
    path (differentially tested).

    ``fields`` = [(field_name, input_column), ...] turns on multi-field
    mode: each field inverts independently with terms namespaced
    ``field\\x1ftoken`` and that field's norms in its blocks (the per-field
    postings/norms split of Lucene's IndexingChain), plus one existence
    posting per (field, doc). docmap doc_len/norm come from the FIRST
    (primary) field."""
    if custom_chains:
        # re-register driver-registered custom analyzers in THIS process:
        # executors start with an empty registry, so the chains ship by
        # value through the task closure (analysis/custom.py)
        from ..analysis.custom import register_term_analyzer

        for _nm, _fn in custom_chains.items():
            register_term_analyzer(_nm, _fn)
    if custom_token_chains:
        from ..analysis.custom import register_token_analyzer

        for _nm, (_fn, _dp) in custom_token_chains.items():
            register_token_analyzer(_nm, _fn, distinct_positions=_dp)
    seg = int(pdf["segment_id"].iloc[0])
    pdf = pdf.sort_values("url", kind="mergesort").reset_index(drop=True)
    n_docs = len(pdf)

    # column accumulators (one list per output column; bulk-extended)
    cols: dict[str, list] = {f.name: [] for f in UNIFIED_BUILD_SCHEMA.fields}
    n_out = 0

    def extend(kind: int, n: int, **kw) -> None:
        nonlocal n_out
        n_out += n
        cols["kind"].extend([kind] * n)
        cols["segment_id"].extend([seg] * n)
        for f in _UNIFIED_TAIL:
            v = kw.get(f)
            if v is None:
                cols[f].extend([None] * n)
            else:
                cols[f].extend(v)

    if fields is None:
        if html_input:
            texts = [extract_text(raw) for raw in pdf["html"]]
        else:
            texts = pdf["text"].tolist()
        per_field = [(None, texts)]
    else:
        per_field = [(name, pdf[col].fillna("").tolist()) for name, col in fields]

    if (
        index_sort is not None
        and index_sort.startswith("dv:")
        and n_docs > 1
    ):
        # index sort by a numeric doc-value (setIndexSort with
        # SortField(name, Type.DOUBLE)): docids assigned by (value DESC,
        # url ASC), missing values last — same order search_sorted_by
        # produces, so sorted top-k early-terminates per segment
        dv_name = index_sort.split(":", 1)[1]
        dv_col = dict(doc_values or [])[dv_name]
        vals = pd.to_numeric(pdf[dv_col], errors="coerce").to_numpy(np.float64)
        vals = np.where(np.isnan(vals), -np.inf, vals)
        perm = np.lexsort((np.arange(n_docs), -vals))
        pdf = pdf.iloc[perm].reset_index(drop=True)
        if fields is None:
            texts = [texts[i] for i in perm]
            per_field = [(None, texts)]
        else:
            per_field = [
                (name, pdf[col].fillna("").tolist()) for name, col in fields
            ]

    if index_sort == "doc_len" and n_docs > 1:
        # index sort (IndexWriterConfig.setIndexSort / index/Sorter.java):
        # pre-pass the PRIMARY field through the same analysis chain as the
        # main loop (synonym stacking can change distinct-position counts),
        # then assign docids by (doc_len DESC, url ASC) — docid order
        # becomes the sort order, enabling per-segment early termination
        # for top-k-by-length queries (TopFieldCollector canEarlyTerminate)
        bt0 = analyze_batch(
            per_field[0][1],
            stopwords=stopwords,
            analyzer=(field_analyzers or {}).get(
                fields[0][0] if fields else None, analyzer_name
            ),
        )
        if synonyms:
            from ..analysis.vectorized import _apply_synonyms

            bt0 = _apply_synonyms(bt0, synonyms, synonyms_keep_original)
        perm = np.lexsort((np.arange(n_docs), -bt0.doc_lens))
        pdf = pdf.iloc[perm].reset_index(drop=True)
        if fields is None:
            texts = [texts[i] for i in perm]
            per_field = [(None, texts)]
        else:
            per_field = [
                (name, pdf[col].fillna("").tolist()) for name, col in fields
            ]

    total_len = np.zeros(n_docs, dtype=np.int64)
    total_ttf_terms = 0
    for fi, (fname, texts) in enumerate(per_field):
        # whole-batch vectorized analysis: byte-level boundary classification
        # + exact 16-byte-pack dictionary encoding — no per-token python
        # objects (analysis/vectorized.py; tested vs the Token chain)
        an_f = (field_analyzers or {}).get(fname, analyzer_name)
        if lang_analyzers is not None and fname is None:
            # per-document language routing (analyze_batch_routed):
            # row i runs lang_analyzers[lang[i]]'s chain, unmapped rows
            # use the default analyzer
            from ..analysis.vectorized import analyze_batch_routed

            route = [
                lang_analyzers.get(lv, an_f) for lv in pdf[lang_col]
            ]
            bt = analyze_batch_routed(texts, route, stopwords=stopwords)
        else:
            bt = analyze_batch(texts, stopwords=stopwords, analyzer=an_f)
        if synonyms:
            from ..analysis.vectorized import _apply_synonyms

            bt = _apply_synonyms(bt, synonyms, synonyms_keep_original)
        doc_lens = bt.doc_lens
        norms = int_to_byte4(doc_lens)
        prefix = "" if fname is None else fname + FIELD_SEP
        if fi == 0:
            # numeric doc-values (NumericDocValuesField analog): one named
            # double per doc, NaN/non-numeric = missing key
            dv_list = None
            if doc_values:
                import math

                series = {
                    n: pd.to_numeric(pdf[c], errors="coerce")
                    .astype(float)
                    .tolist()
                    for n, c in doc_values
                }
                dv_list = [
                    {
                        n: v[i]
                        for n, v in series.items()
                        if not math.isnan(v[i])
                    }
                    for i in range(n_docs)
                ]
            # --- doc rows (primary field's length/norm) ------------------
            extend(
                KIND_DOC,
                n_docs,
                docid=range(n_docs),
                url=pdf["url"].tolist(),
                doc_len=[int(x) for x in doc_lens],
                norm=[int(x) for x in norms],
                dv=dv_list,
            )
        total_len += doc_lens
        total_ttf_terms += int(doc_lens.sum())
        if fname is not None:
            # existence postings: docs with ≥1 token, freq = field length
            # (so term_dict df/ttf of this row ARE the field's
            # CollectionStatistics), norm = the field's norm byte
            e_docs = np.flatnonzero(doc_lens > 0).astype(np.int64)
            if e_docs.size:
                total_ttf_terms += int(doc_lens[e_docs].sum())
                _emit_exists_postings(
                    extend,
                    exists_term(fname),
                    e_docs,
                    doc_lens[e_docs],
                    norms[e_docs],
                )
        _emit_field_postings(
            extend, bt, norms, prefix, index_positions, payload_fn=payload_fn
        )
    for fname, col in features or []:
        # feature posting list (FeatureField.java:184-185): freq = encoded
        # value, no norms, no positions; docs with null/non-positive values
        # simply lack the feature
        vals = pd.to_numeric(pdf[col], errors="coerce").to_numpy(np.float64)
        valid = np.isfinite(vals) & (vals > 0)
        f_docs = np.flatnonzero(valid).astype(np.int64)
        if f_docs.size:
            enc = encode_feature(vals[valid])
            total_ttf_terms += int(enc.sum())
            _emit_exists_postings(
                extend,
                feature_term(fname),
                f_docs,
                enc,
                np.zeros(f_docs.size, dtype=np.int64),
            )
    # per-segment stats row: the build's ONLY aggregation, computed here so
    # no post-write scan is needed (column reuse per schemas.KIND_STATS).
    # Multi-field: ttf = Σ ttf over ALL emitted term rows (incl. existence
    # lists) so the Σttf(term_dict)==field_stats.sum_ttf invariant holds;
    # per-field avgdl comes from the existence terms, not this row.
    n_terms_total = sum(1 for k in cols["kind"] if k == KIND_TERM)
    extend(
        KIND_STATS,
        1,
        df=[n_docs],
        ttf=[int(total_ttf_terms)],
        n_blocks=[n_terms_total],
        first_docid=[0],
        last_docid=[n_docs - 1],
    )
    # object dtype for nullable int columns: pandas would otherwise coerce
    # int+None to float64, which silently loses precision past 2^53 (real
    # risk for global docids at 10^12-doc scale)
    return pd.DataFrame(
        {k: pd.Series(v, dtype=object) for k, v in cols.items()}
    )


def _emit_exists_postings(extend, term, docids, freqs, norm_bytes) -> None:
    """Existence list rows for one field (term key ``field\\x1f``)."""
    df = int(docids.size)
    ttf = int(freqs.sum())
    if df == 1:
        extend(
            KIND_TERM,
            1,
            term=[term],
            df=[1],
            ttf=[ttf],
            n_blocks=[0],
            singleton_docid=[int(docids[0])],
            singleton_freq=[int(freqs[0])],
            singleton_norm=[int(norm_bytes[0])],
        )
        return
    rows = encode_term_postings(docids, freqs, norm_bytes.astype(np.int64))
    extend(KIND_TERM, 1, term=[term], df=[df], ttf=[ttf], n_blocks=[len(rows)])
    extend(
        KIND_BLOCK,
        len(rows),
        term=[term] * len(rows),
        block_no=[r["block_no"] for r in rows],
        n_docs=[r["n_docs"] for r in rows],
        base_docid=[r["base_docid"] for r in rows],
        first_docid=[r["first_docid"] for r in rows],
        last_docid=[r["last_docid"] for r in rows],
        encoding=[r["encoding"] for r in rows],
        docids_enc=[r["docids_enc"] for r in rows],
        freqs_enc=[r["freqs_enc"] for r in rows],
        norms_enc=[r["norms_enc"] for r in rows],
        positions_enc=[None] * len(rows),
        impact_freqs=[[int(f) for f, _ in r["impacts"]] for r in rows],
        impact_norms=[[int(n) for _, n in r["impacts"]] for r in rows],
    )


def _emit_field_postings(
    extend, bt, norms, prefix, index_positions, payload_fn=None
) -> None:
    if bt.codes.size:
        docids_flat = bt.docids
        positions_flat = bt.positions
        codes, uniq_list = bt.codes, bt.uniques
        # unsigned UTF-8 byte term order (CheckIndex.java:1619-1621)
        term_order = sorted(range(len(uniq_list)), key=lambda i: uniq_list[i].encode("utf-8"))
        remap = np.empty(len(uniq_list), dtype=np.int64)
        remap[np.array(term_order)] = np.arange(len(uniq_list))
        codes = remap[codes]
        # field namespacing preserves byte order within the field: every
        # key shares the "<field>\x1f" prefix
        sorted_terms = [prefix + uniq_list[i] for i in term_order]

        order = np.lexsort((positions_flat, docids_flat, codes))
        c = codes[order]
        d = docids_flat[order]
        p = positions_flat[order]
        # run-length over (term, doc) → freq
        change = np.empty(c.size, dtype=bool)
        change[0] = True
        np.logical_or(c[1:] != c[:-1], d[1:] != d[:-1], out=change[1:])
        run_starts = np.flatnonzero(change)
        run_ends = np.concatenate((run_starts[1:], [c.size]))
        run_freqs = run_ends - run_starts
        run_docids = d[run_starts]
        run_codes = c[run_starts]
        run_norms = norms[run_docids].astype(np.uint8)
        n_runs = run_codes.size
        # per-term group boundaries over the runs
        tchange = np.empty(n_runs, dtype=bool)
        tchange[0] = True
        np.not_equal(run_codes[1:], run_codes[:-1], out=tchange[1:])
        t_starts = np.flatnonzero(tchange)
        t_ends = np.concatenate((t_starts[1:], [n_runs]))
        t_df = t_ends - t_starts
        t_codes = run_codes[t_starts]
        # ttf per term: sum of freqs over the term's runs
        freq_cs = np.concatenate(([0], np.cumsum(run_freqs)))
        t_ttf = freq_cs[t_ends] - freq_cs[t_starts]

        # positions: delta-encode with reset at every run (doc) start, ONE
        # pass for the whole segment; per-run byte offsets come from the
        # concat encoder
        if index_positions:
            pos_deltas = _delta_with_resets(p, change, 0)
            pos_deltas[run_starts] = p[run_starts]  # first position absolute
            pos_stream, pos_offsets = vbyte_encode_concat(
                pos_deltas, np.concatenate(([0], np.cumsum(run_freqs)))
            )

        def positions_slice(run_lo: int, run_hi: int) -> bytes | None:
            if not index_positions:
                return None
            return pos_stream[pos_offsets[run_lo] : pos_offsets[run_hi]]

        # payloads: one VByte value stream aligned with positions (per-token
        # app data; the NumericPayload/TokenOffsetPayload token-filter family
        # — analysis/payloads/NumericPayloadTokenFilter.java — computed here
        # as payload_fn(position, docid) per occurrence), stored verbatim
        # like Lucene's .pos payload bytes (Lucene103PostingsWriter.java:299-340)
        if payload_fn is not None:
            pay = np.asarray(payload_fn(p, d), dtype=np.int64)
            if pay.shape != p.shape:
                raise ValueError("payload_fn must return one int per token")
            if pay.size and int(pay.min()) < 0:
                raise ValueError("payloads must be non-negative ints")
            pay_stream, pay_offsets = vbyte_encode_concat(
                pay, np.concatenate(([0], np.cumsum(run_freqs)))
            )

        def payloads_slice(run_lo: int, run_hi: int) -> bytes | None:
            if payload_fn is None:
                return None
            return pay_stream[pay_offsets[run_lo] : pay_offsets[run_hi]]

        singles = t_df == 1
        tails = (t_df > 1) & (t_df <= BLOCK_SIZE)
        bigs = t_df > BLOCK_SIZE

        # --- singletons (pulsed): fully vectorized -----------------------
        if singles.any():
            s_idx = t_starts[singles]  # run index of the single run
            extend(
                KIND_TERM,
                int(singles.sum()),
                term=[sorted_terms[i] for i in t_codes[singles]],
                df=[1] * int(singles.sum()),
                ttf=[int(x) for x in t_ttf[singles]],
                n_blocks=[0] * int(singles.sum()),
                singleton_docid=[int(x) for x in run_docids[s_idx]],
                singleton_freq=[int(x) for x in run_freqs[s_idx]],
                singleton_norm=[int(x) for x in run_norms[s_idx]],
                singleton_positions=[
                    positions_slice(i, i + 1) for i in s_idx
                ] if index_positions else None,
                singleton_payloads=[
                    payloads_slice(i, i + 1) for i in s_idx
                ] if payload_fn is not None else None,
            )

        # --- tail terms (2..128 docs → one VByte tail block each) --------
        if tails.any():
            tl_starts = t_starts[tails]
            tl_ends = t_ends[tails]
            tl_df = t_df[tails]
            n_tail = tl_starts.size
            # docid deltas with reset at term starts (base = -1)
            doc_deltas = _delta_with_resets(run_docids, tchange, -1)
            # run indices belonging to tail terms (vectorized membership)
            t_idx_of_run = np.cumsum(tchange) - 1
            tail_run_idx = np.flatnonzero(tails[t_idx_of_run])
            tail_bounds = np.concatenate(([0], np.cumsum(tl_df)))
            d_stream, d_off = vbyte_encode_concat(doc_deltas[tail_run_idx], tail_bounds)
            f_stream, f_off = vbyte_encode_concat(run_freqs[tail_run_idx], tail_bounds)
            norm_bytes = run_norms[tail_run_idx].tobytes()
            tail_terms = [sorted_terms[i] for i in t_codes[tails]]
            # impact skylines, grouped-vectorized: max freq per (term, norm)
            # then a strictly-increasing filter via grouped cummax
            sky_f, sky_n, sky_bounds = _skylines_grouped(
                run_codes[tail_run_idx], run_freqs[tail_run_idx], run_norms[tail_run_idx]
            )
            extend(
                KIND_TERM,
                n_tail,
                term=tail_terms,
                df=[int(x) for x in tl_df],
                ttf=[int(x) for x in t_ttf[tails]],
                n_blocks=[1] * n_tail,
            )
            extend(
                KIND_BLOCK,
                n_tail,
                term=tail_terms,
                block_no=[0] * n_tail,
                n_docs=tl_df.tolist(),
                base_docid=[-1] * n_tail,
                first_docid=run_docids[tl_starts].tolist(),
                last_docid=run_docids[tl_ends - 1].tolist(),
                encoding=[ENC_VBYTE_TAIL] * n_tail,
                docids_enc=[d_stream[d_off[i] : d_off[i + 1]] for i in range(n_tail)],
                freqs_enc=[f_stream[f_off[i] : f_off[i + 1]] for i in range(n_tail)],
                norms_enc=[
                    norm_bytes[tail_bounds[i] : tail_bounds[i + 1]]
                    for i in range(n_tail)
                ],
                positions_enc=[
                    positions_slice(int(s), int(e))
                    for s, e in zip(tl_starts, tl_ends)
                ] if index_positions else None,
                payloads_enc=[
                    payloads_slice(int(s), int(e))
                    for s, e in zip(tl_starts, tl_ends)
                ] if payload_fn is not None else None,
                impact_freqs=[
                    [int(x) for x in sky_f[sky_bounds[i] : sky_bounds[i + 1]]]
                    for i in range(n_tail)
                ],
                impact_norms=[
                    [int(x) for x in sky_n[sky_bounds[i] : sky_bounds[i + 1]]]
                    for i in range(n_tail)
                ],
            )

        # --- big terms (>128 docs → full block encoding, per-term) -------
        for ts, te in zip(t_starts[bigs], t_ends[bigs]):
            term = sorted_terms[run_codes[ts]]
            t_docids = run_docids[ts:te]
            t_freqs = run_freqs[ts:te]
            t_norms = norms[t_docids]
            t_posdel = None
            if index_positions:
                # already in delta form (one segment-wide pass above)
                t_posdel = pos_deltas[freq_cs[ts] : freq_cs[te]]
            t_pay = None
            if payload_fn is not None:
                t_pay = pay[freq_cs[ts] : freq_cs[te]]
            rows = encode_term_postings(
                t_docids, t_freqs, t_norms, pos_deltas=t_posdel, payloads=t_pay
            )
            extend(
                KIND_TERM,
                1,
                term=[term],
                df=[int(te - ts)],
                ttf=[int(freq_cs[te] - freq_cs[ts])],
                n_blocks=[len(rows)],
            )
            extend(
                KIND_BLOCK,
                len(rows),
                term=[term] * len(rows),
                block_no=[r["block_no"] for r in rows],
                n_docs=[r["n_docs"] for r in rows],
                base_docid=[r["base_docid"] for r in rows],
                first_docid=[r["first_docid"] for r in rows],
                last_docid=[r["last_docid"] for r in rows],
                encoding=[r["encoding"] for r in rows],
                docids_enc=[r["docids_enc"] for r in rows],
                freqs_enc=[r["freqs_enc"] for r in rows],
                norms_enc=[r["norms_enc"] for r in rows],
                positions_enc=[r["positions_enc"] for r in rows],
                payloads_enc=[r["payloads_enc"] for r in rows],
                impact_freqs=[[int(f) for f, _ in r["impacts"]] for r in rows],
                impact_norms=[[int(n) for _, n in r["impacts"]] for r in rows],
            )


def _skylines_grouped(
    codes: np.ndarray, freqs: np.ndarray, norms: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Competitive (freq, norm) skylines for many groups at once.

    Exactly CompetitiveImpactAccumulator.getCompetitiveFreqNormPairs
    (codecs/CompetitiveImpactAccumulator.java:104-125) per group: max freq
    per norm, keep pairs with freq strictly above every lower norm's.
    Returns (freqs, norms, group_bounds) with groups in input code order.
    """
    from ..codecs.blocks import skylines_grouped

    return skylines_grouped(codes, freqs, norms)


def _table_path(index_dir: str, name: str) -> str:
    return f"{index_dir}/{name}"


def _read_stats_rows(data_dir: str, allowed: set[int] | None = None) -> list[dict]:
    """Driver-side pyarrow read of the per-segment stats rows
    (``kind=KIND_STATS`` partition: one row per segment). ``allowed`` guards
    against orphan partition dirs left by a crashed previous job — only the
    manifest swap commits a segment."""
    import glob as _glob

    import pyarrow.parquet as _pq

    out: list[dict] = []
    for seg_dir in _glob.glob(f"{data_dir}/kind={KIND_STATS}/segment_id=*"):
        seg = int(seg_dir.rsplit("=", 1)[1])
        if allowed is not None and seg not in allowed:
            continue
        for f in _glob.glob(f"{seg_dir}/*.parquet"):
            t = _pq.read_table(
                f, columns=["df", "n_blocks", "ttf", "last_docid", "first_docid"]
            ).to_pylist()
            for r in t:
                out.append(
                    {
                        "segment_id": seg,
                        "doc_count": r["df"],
                        "n_terms": r["n_blocks"],
                        "sum_ttf": r["ttf"],
                        "max_docid": r["last_docid"],
                        "min_docid": r["first_docid"],
                    }
                )
    return out


_M32 = 0xFFFFFFFF


def murmur3_hash_int32(x: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of one little-endian int32 — bit-identical to Spark's
    shuffle hash for an IntegerType column (Murmur3Hash expression / F.hash,
    seed 42). Pure python so label planning costs no Spark job. Returns the
    signed int32 Spark returns."""
    k1 = (x & _M32) * 0xCC9E2D51 & _M32
    k1 = ((k1 << 15) | (k1 >> 17)) & _M32
    k1 = k1 * 0x1B873593 & _M32
    h1 = (seed & _M32) ^ k1
    h1 = ((h1 << 13) | (h1 >> 19)) & _M32
    h1 = (h1 * 5 + 0xE6546B64) & _M32
    h1 ^= 4  # total byte length
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & _M32
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _balanced_segment_labels(n: int, exclude: set[int] | None = None) -> list[int]:
    """Segment ids whose Murmur3 hash covers each residue class mod ``n``
    exactly once.

    ``groupBy(segment_id)`` shuffles with HashPartitioning =
    ``pmod(murmur3(segment_id), P)``; with arbitrary ids, birthday collisions
    put 4-5 segment groups on one reduce task and zero on another, and the
    straggler defines the stage time. Labels chosen one-per-residue make the
    group→task assignment perfectly uniform for every partition count P that
    divides ``n`` — the balanced-DWPT analog of Lucene handing each indexing
    thread its own DocumentsWriterPerThread. ``exclude`` skips ids already
    taken by live segments (append/streaming batches)."""
    exclude = exclude or set()
    labels: dict[int, int] = {}
    v = 0
    while len(labels) < n:
        if v not in exclude:
            r = murmur3_hash_int32(v) % n  # python % == Spark pmod for n > 0
            if r not in labels:
                labels[r] = v
        v += 1
    return [labels[r] for r in range(n)]


def build_index(
    spark: SparkSession,
    df: DataFrame,
    index_dir: str,
    *,
    num_segments: int | None = None,
    analyzer: str = "standard",
    stopwords: frozenset[str] | None = None,
    html_input: bool = False,
    index_positions: bool = True,
    resume: bool = False,
    append: bool = False,
    lineage_tag: str | None = None,
    fields: dict[str, str] | None = None,
    feature_fields: dict[str, str] | None = None,
    block_key: str | None = None,
    synonyms: dict | None = None,
    synonyms_keep_original: bool = True,
    index_sort: str | None = None,
    field_analyzers: dict[str, str] | None = None,
    payload_fn: Callable | None = None,
    doc_values: dict[str, str] | None = None,
    lang_col: str | None = None,
    lang_analyzers: dict[str, str] | None = None,
) -> dict:
    """Build (or resume) the index at ``index_dir`` from a webtext DataFrame
    with columns (url, text[, html, warc_ts, lang]). Returns build metrics.

    ``payload_fn(positions, docids) -> int array`` attaches one non-negative
    int payload to every token occurrence (vectorized over the segment's
    token stream) — the NumericPayload/TokenOffsetPayload token-filter
    family. Payloads are stored per position in the postings blocks
    (``payloads_enc``) and consumed by PayloadScoreQuery.

    ``doc_values`` = {name: input_column} stores named numeric doc-values
    per doc in the docmap (NumericDocValuesField / .dvd analog): sort with
    ``Searcher.search_sorted_by(sort_col="dv:<name>")``; nulls/non-numeric
    values are missing (sort last on DESC, like Lucene's missing-value
    default).

    ``synonyms`` = {analyzed_term: synonym | [synonyms...]} applies
    index-time single-token synonym expansion after the analyzer chain
    (stacked positions, ``synonyms_keep_original`` controls replace vs
    add — see analysis/synonyms.py).

    ``block_key`` names a column that pins every row sharing its value to
    ONE segment (segment bucket = hash of that column instead of url) —
    the IndexWriter.addDocuments doc-block guarantee for
    ToParentBlockJoinQuery: with family urls sharing a prefix and the
    parent's url sorting last, url-rank docid assignment keeps each family
    contiguous with the parent last.

    ``lang_col`` + ``lang_analyzers`` = {lang_value: analyzer_name}
    route each DOCUMENT through its language's analyzer chain (the
    multilingual-webtext per-row form of PerFieldAnalyzerWrapper — a
    Common-Crawl corpus carries (url, warc_ts, html, text, lang); rows
    whose lang is unmapped use ``analyzer``). Single-field builds only;
    recorded in index_meta.json. Query terms still analyze with the
    SEARCHER's chain — pick it per query language.

    ``field_analyzers`` = {field_name: analyzer_name} overrides the
    analyzer per field (analysis/miscellaneous/PerFieldAnalyzerWrapper.java:51
    — e.g. a stemmed body next to a verbatim keyword-ish title); unlisted
    fields use ``analyzer``. Recorded in index_meta.json so the query parser
    analyzes ``field:token`` with that field's chain.

    ``fields`` = {field_name: input_column} turns on multi-field indexing
    (e.g. ``{"title": "title", "body": "text"}``): terms are namespaced per
    field with per-field norms and existence lists (see _invert_segment);
    queries then address fields as ``title:foo`` / CombinedFieldQuery.
    Field names are recorded in ``index_meta.json`` for the searcher.

    ``index_sort="doc_len"`` assigns docids within each segment by the
    primary field's length DESCENDING (url rank breaks ties) — the
    IndexWriterConfig.setIndexSort analog (index/IndexWriterConfig.java
    setIndexSort; Sorter.java sorts the flushed segment): top-k-by-length
    queries then early-terminate per segment because docid order IS the
    sort order (TopFieldCollector.java canEarlyTerminate). Incompatible
    with ``block_key`` (doc blocks require insertion-order contiguity).

    ``append=True`` adds the rows as NEW segments to an existing index (the
    NRT micro-batch path, SearcherManager/openIfChanged analog): existing
    segments, their docids and doc_bases are untouched; new segments get
    fresh ids and doc_bases after the current maximum, and the manifest swap
    is the commit that makes them visible.
    """
    if field_analyzers:
        if fields is None:
            raise ValueError("field_analyzers requires fields=")
        unknown = set(field_analyzers) - set(fields)
        if unknown:
            raise ValueError(f"field_analyzers for unknown fields {sorted(unknown)}")
        for a in field_analyzers.values():
            get_analyzer(a)  # fail fast on a bad name
    if lang_analyzers or lang_col:
        if not (lang_col and lang_analyzers):
            raise ValueError("lang_col and lang_analyzers go together")
        if fields is not None:
            raise ValueError("lang routing is single-field (fields=None)")
        if index_sort is not None:
            raise ValueError("lang routing and index_sort are mutually exclusive")
        for a in lang_analyzers.values():
            get_analyzer(a)  # fail fast on a bad name
    if index_sort is not None:
        if index_sort.startswith("dv:"):
            if not doc_values or index_sort[3:] not in doc_values:
                raise ValueError(
                    f"index_sort {index_sort!r} needs doc_values[{index_sort[3:]!r}]"
                )
        elif index_sort != "doc_len":
            raise ValueError(f"unsupported index_sort {index_sort!r}")
        if block_key is not None:
            raise ValueError("index_sort and block_key are mutually exclusive")
    if num_segments is None:
        num_segments = max(df.rdd.getNumPartitions(), 1)

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    existing_manifest: list[tuple] = []
    existing_stats: list[tuple] = []
    existing_ids: set[int] = set()
    if append:
        from .reader import IndexReader

        rdr = IndexReader(spark, index_dir)
        for r in rdr.manifest_rows:
            existing_manifest.append(
                (
                    int(r["segment_id"]), int(r["n_docs"]), int(r["doc_base"]),
                    r["status"], float(r["checkpoint_ts"]), r["lineage"],
                    r["metrics_json"],
                )
            )
            existing_ids.add(int(r["segment_id"]))
        existing_stats = [
            (
                int(r["segment_id"]), int(r["doc_count"]), int(r["sum_ttf"]),
                int(r["max_docid"]), int(r["min_docid"]),
            )
            for r in rdr.field_stats.collect()
        ]

    if feature_fields and fields is None:
        # features need per-field stats: without them the feature ttf would
        # pollute the single global avgdl (Lucene stores features in their
        # own field for the same reason)
        raise ValueError("feature_fields requires fields= (per-field stats)")
    if fields is not None:
        if html_input:
            raise ValueError("fields= and html_input are mutually exclusive")
        cols = ["url", *dict.fromkeys(fields.values())]
        if feature_fields:
            cols += [
                c for c in dict.fromkeys(feature_fields.values())
                if c not in cols
            ]
    else:
        cols = ["url", "html"] if html_input else ["url", "text"]
        if lang_col and lang_col not in cols:
            cols.append(lang_col)
    if doc_values:
        cols += [c for c in dict.fromkeys(doc_values.values()) if c not in cols]
    # url → bucket is a pure hash (resume-stable); bucket → label makes the
    # groupBy shuffle perfectly balanced (see _balanced_segment_labels)
    labels = _balanced_segment_labels(num_segments, exclude=existing_ids)
    label_arr = F.array(*[F.lit(l) for l in labels])
    bucket = F.pmod(
        F.xxhash64(block_key or "url"), F.lit(num_segments)
    ).cast("int")
    docs = df.withColumn(
        "segment_id", F.element_at(label_arr, bucket + F.lit(1))
    ).select(*cols, "segment_id")

    done: set[int] = set()
    if resume:
        try:
            man = spark.read.parquet(_table_path(index_dir, "segment_manifest"))
            done = {
                r["segment_id"]
                for r in man.filter(F.col("status") == "done").collect()
            }
        except Exception:
            done = set()
        if done:
            docs = docs.filter(~F.col("segment_id").isin(list(done)))

    t0 = time.time()
    # AQE coalesces shuffle partitions by BYTE size; the invert stage is
    # python-CPU-bound with tiny input bytes, so coalescing would starve it
    # of parallelism — keep every shuffle partition for the build
    coalesce_prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    # one segment group per reduce task: with the balanced labels this makes
    # every invert task identical in size at any core count dividing
    # num_segments (waves of equal tasks, no stragglers)
    shuffle_prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(num_segments))
    sw = stopwords
    an, hi, ip = analyzer, html_input, index_positions
    syn, syn_keep = None, synonyms_keep_original
    if synonyms:
        from ..analysis.synonyms import check_rules

        # index-time synonym expansion (analysis/synonyms.py): single-token
        # rules run as a vocabulary-level post-pass; multi-word rules route
        # through the SynonymGraphFilter → FlattenGraphFilter chain
        # (_apply_synonyms picks per rule-set shape)
        syn = check_rules(synonyms, allow_graph=True)
    fl = sorted(fields.items()) if fields is not None else None
    if fl is not None and fields:
        # primary field first (docmap doc_len/norm source): dict order
        primary = next(iter(fields))
        fl = [(primary, fields[primary])] + [
            (k, v) for k, v in sorted(fields.items()) if k != primary
        ]

    ftl = sorted(feature_fields.items()) if feature_fields else None

    isort = index_sort
    fan = dict(field_analyzers) if field_analyzers else None

    payfn = payload_fn
    dvl = sorted(doc_values.items()) if doc_values else None

    # custom analyzers live in a per-process registry — resolve them on the
    # driver and ship the callables by value so executor tasks can
    # re-register before analyzing (analysis/custom.py)
    from ..analysis.custom import custom_term_fn as _custom_term_fn

    cc = {
        nm: _custom_term_fn(nm)
        for nm in {an, *(fan or {}).values(), *(lang_analyzers or {}).values()}
        if _custom_term_fn(nm) is not None
    } or None
    from ..analysis.custom import custom_token_entry as _cte

    ctc = {
        nm: _cte(nm)
        for nm in {an, *(fan or {}).values(), *(lang_analyzers or {}).values()}
        if _cte(nm) is not None
    } or None

    lc, la = lang_col, dict(lang_analyzers) if lang_analyzers else None

    def _builder(pdf: pd.DataFrame) -> pd.DataFrame:
        return _invert_segment(
            pdf, an, sw, hi, ip, fields=fl, features=ftl,
            synonyms=syn, synonyms_keep_original=syn_keep,
            index_sort=isort, field_analyzers=fan, payload_fn=payfn,
            doc_values=dvl, custom_chains=cc, custom_token_chains=ctc,
            lang_col=lc, lang_analyzers=la,
        )

    unified = docs.groupBy("segment_id").applyInPandas(
        _builder, schema=UNIFIED_BUILD_SCHEMA
    )
    # ONE write job for all three logical tables: data/kind={0,1,2}/segment_id=N.
    # Rows are sorted (kind, term-bytes, block_no, docid) so postings/term_dict
    # files get term min/max stats for row-group pruning and docmap stays in
    # docid order; parquet's null-compression makes the unified wide schema
    # free. One commit instead of three (the committer rename walk is
    # driver-serial — at 3 tables x many partition dirs it dominated small
    # builds).
    (
        unified.sortWithinPartitions(
            "kind",
            F.encode(F.coalesce("term", F.lit("")), "utf-8"),
            "block_no",
            "docid",
        )
        .write.mode("overwrite")
        .partitionBy("kind", "segment_id")
        .parquet(_table_path(index_dir, "data"))
    )
    # stats: read back ONLY the kind=3 rows (one per segment) straight with
    # pyarrow on the driver — a Spark job here costs ~1s of pure scheduling
    # for 64 single-row files
    seg_stats = _read_stats_rows(
        _table_path(index_dir, "data"), allowed=set(labels) | set(done)
    )
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce_prev)
    spark.conf.set("spark.sql.shuffle.partitions", shuffle_prev)
    build_secs = time.time() - t0

    # --- stats + manifest (commit point) --------------------------------
    new_stats = {
        int(r["segment_id"]): (
            int(r["doc_count"]),
            int(r["sum_ttf"]),
            int(r["max_docid"]),
            int(r["n_terms"]),
            int(r["min_docid"]),
        )
        for r in seg_stats
        if int(r["segment_id"]) not in existing_ids  # append: old ones kept as-is
    }
    if done:
        # resumed build: stats of untouched segments came out of the same
        # scan (the data dir holds every segment), nothing to carry forward
        pass
    write_driver_table(
        _table_path(index_dir, "field_stats"),
        existing_stats
        + [(s, v[0], v[1], v[2], v[4]) for s, v in sorted(new_stats.items())],
        FIELD_STATS_SCHEMA,
    )

    n_terms_map = {s: v[3] for s, v in new_stats.items()}
    stats = sorted((s, v[0], v[1]) for s, v in new_stats.items())
    manifest_rows = list(existing_manifest)
    # new doc_bases continue after every existing doc (docids of committed
    # segments are immutable — FieldsConsumer.merge docBase semantics)
    doc_base = sum(r[1] for r in existing_manifest)
    for seg, cnt, sttf in stats:
        manifest_rows.append(
            (
                int(seg),
                int(cnt),
                int(doc_base),
                "done",
                float(time.time()),
                f"build(analyzer={analyzer},positions={index_positions},"
                f"segments={num_segments},resumed={seg in done},append={append})"
                + (f";{lineage_tag}" if lineage_tag else ""),
                json.dumps(
                    {
                        "n_terms": int(n_terms_map.get(seg, 0)),
                        "sum_ttf": int(sttf),
                        "build_secs": round(build_secs, 3),
                    }
                ),
            )
        )
        doc_base += int(cnt)
    meta: dict = {}
    if fl is not None:
        meta.update(
            {
                "fields": [name for name, _col in fl],
                "primary": fl[0][0],
                "features": [name for name, _col in ftl or []],
            }
        )
    if index_sort is not None:
        meta["index_sort"] = index_sort
    if field_analyzers:
        meta["field_analyzers"] = dict(field_analyzers)
    if lang_analyzers:
        meta["lang_col"] = lang_col
        meta["lang_analyzers"] = dict(lang_analyzers)
    if doc_values:
        meta["doc_values"] = sorted(doc_values)
    if meta:
        with open(os.path.join(index_dir, "index_meta.json"), "w") as fh:
            json.dump(meta, fh)
    # atomic-ish swap (temp dir + rename; Iceberg snapshot commit in
    # production)
    write_driver_table(
        _table_path(index_dir, "segment_manifest"), manifest_rows, MANIFEST_SCHEMA
    )
    total_docs = sum(r[1] for r in manifest_rows)
    new_docs = sum(r[1] for r in stats) if append else total_docs
    return {
        "num_segments": len(manifest_rows),
        "n_docs": total_docs,
        "new_docs": new_docs,
        "build_secs": build_secs,
        "docs_per_sec": new_docs / build_secs if build_secs > 0 else float("inf"),
        "resumed_segments": len(done),
    }
