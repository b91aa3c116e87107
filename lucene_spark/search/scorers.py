"""Scorer construction for the two scoring modes.

- ``lucene``: float32 BM25 in the reference's exact expression order
  (functions/bm25.Bm25Scorer) — rank-identical to Lucene
  (BM25Similarity.java:101-108,180-184,221-233).
- ``double``: float64 BM25 over the same SmallFloat-quantized lengths, in an
  expression shape reproducible in ANSI SQL — used by the external DuckDB
  oracle gate. Same ranks except at f32-rounding boundaries.

Phrase weight = summed term idf (BM25Similarity.idfExplain accumulates each
term's float32 idf into a double then casts back,
BM25Similarity.java:160-169); the tf part reuses the norm-inverse cache.

``build_scorers`` walks parsed query ASTs and returns one dict keyed by the
(frozen, hashable) leaf node — the engine analog of Lucene's Weight tree,
where ``createWeight(query, scoreMode, boost)`` precomputes one SimScorer per
scoring leaf with the boost threaded down (search/IndexSearcher.java
createWeight; BooleanWeight passes boost to every scoring clause).

SynonymQuery leaves score with blended stats: docFreq = max over terms,
totalTermFreq = sum (SynonymQuery.java:54 createWeight builds one
TermStatistics that way); per-doc freq summing happens in segment.py.
A TermQuery carrying ``df_override`` scores with that docFreq instead of its
own — TopTermsBlendedFreqScoringRewrite / BlendedTermQuery.adjustFrequencies
semantics used by FuzzyQuery expansion (search/BlendedTermQuery.java:47).

Block-max bounds: a block's impact skyline pair (freq f, norm byte n)
stands for every posting of the block with freq ≤ f and norm byte ≥ n, so
``score(f, n)`` bounds those postings for any scorer non-decreasing in freq
and non-increasing in the norm byte (the SimScorer contract). Every term
scorer here keeps it except ``SweetSpotScorer``, whose length norm rises
toward its plateau: it alone defines ``impact_bound``, which
``segment._TermPostings.block_ub`` calls in place of ``score``.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import numpy as np

from ..functions.bm25 import Bm25Scorer, idf_value
from ..functions.featurefield import FeatureScorer
from ..functions.smallfloat import BYTE4_DECODE_TABLE
from ..index.builder import FIELD_SEP
from .query import (
    BooleanQuery,
    CombinedFieldQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    FeatureQuery,
    IntervalAtLeast,
    IntervalFilter,
    IntervalNear,
    IntervalOr,
    MultiPhraseQuery,
    PayloadScoreQuery,
    PhraseQuery,
    SynonymQuery,
    TermAutomatonQuery,
    TermInSetQuery,
    TermQuery,
    ToChildBlockJoinQuery,
    ToParentBlockJoinQuery,
)

__all__ = [
    "QuantizedDoubleBm25",
    "make_term_scorer",
    "make_phrase_scorer",
    "build_scorers",
    "scoring_leaves",
]


@dataclass(frozen=True)
class QuantizedDoubleBm25:
    """score = idf - idf / (1 + freq * inv(norm)) in float64, where
    inv(norm) = 1 / (k1*((1-b) + b*quantized_len(norm)/avgdl))."""

    weight: float
    cache: np.ndarray  # float64[256]

    @classmethod
    def create(
        cls,
        doc_freq: int,
        doc_count: int,
        sum_total_term_freq: int,
        k1: float = 1.2,
        b: float = 0.75,
        boost: float = 1.0,
    ) -> "QuantizedDoubleBm25":
        idf = float(np.log(1.0 + (doc_count - doc_freq + 0.5) / (doc_freq + 0.5)))
        avgdl = sum_total_term_freq / doc_count
        lens = BYTE4_DECODE_TABLE.astype(np.float64)
        cache = 1.0 / (k1 * ((1.0 - b) + b * lens / avgdl))
        return cls(weight=boost * idf, cache=cache)

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        freqs = np.asarray(freqs, dtype=np.float64)
        inv = self.cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        return self.weight - self.weight / (1.0 + freqs * inv)


@dataclass(frozen=True)
class LMDirichletScorer:
    """LM Dirichlet similarity (similarities/LMDirichletSimilarity.java:58-66,
    mu = 2000 default):

        score = boost * (ln(1 + freq / (mu·p)) + ln(mu / (dl + mu)))
        p     = (totalTermFreq + 1) / (sumTotalTermFreq + 1)
                (LMSimilarity.DefaultCollectionModel.computeProbability)

    clamped at 0 (the reference returns ``score > 0 ? score : 0``). dl is the
    SmallFloat-quantized stored length, like every scorer here. Computed in
    float64 with DuckDB-reproducible expression shape (ln(1+x), not log1p).
    Monotone increasing in freq and decreasing in dl, so the block-max
    impact-skyline pruning bound stays valid unchanged."""

    weight: float
    mu_p: float
    cache: np.ndarray  # float64[256]: ln(mu / (dl + mu)) per norm byte

    @classmethod
    def create(
        cls, ttf: int, sum_ttf: int, mu: float = 2000.0, boost: float = 1.0
    ) -> "LMDirichletScorer":
        p = (ttf + 1.0) / (sum_ttf + 1.0)
        lens = BYTE4_DECODE_TABLE.astype(np.float64)
        return cls(
            weight=float(boost), mu_p=mu * p, cache=np.log(mu / (lens + mu))
        )

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        freqs = np.asarray(freqs, dtype=np.float64)
        s = self.weight * (
            np.log(1.0 + freqs / self.mu_p)
            + self.cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        )
        return np.maximum(s, 0.0)


@dataclass(frozen=True)
class LMJelinekMercerScorer:
    """LM Jelinek-Mercer similarity (similarities/
    LMJelinekMercerSimilarity.java:60-67, lambda = 0.1 default):

        score = boost * ln(1 + ((1-λ)·freq/dl) / (λ·p))
        p     = (totalTermFreq + 1) / (sumTotalTermFreq + 1)

    clamped at 0 like the reference. dl is the SmallFloat-quantized stored
    length; the per-norm-byte cache holds ((1-λ)/dl) / (λ·p) so scoring is
    one ln per posting. Non-decreasing in freq and non-increasing in dl, so
    its ``score`` at a skyline pair is a block-max bound (module
    docstring)."""

    weight: float
    cache: np.ndarray  # float64[256]: ((1-λ)/dl) / (λ·p) per norm byte

    @classmethod
    def create(
        cls, ttf: int, sum_ttf: int, lam: float = 0.1, boost: float = 1.0
    ) -> "LMJelinekMercerScorer":
        p = (ttf + 1.0) / (sum_ttf + 1.0)
        lens = BYTE4_DECODE_TABLE.astype(np.float64)
        with np.errstate(divide="ignore"):
            factor = ((1.0 - lam) / lens) / (lam * p)
        return cls(weight=float(boost), cache=factor)

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        freqs = np.asarray(freqs, dtype=np.float64)
        s = self.weight * np.log(
            1.0 + freqs * self.cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        )
        return np.maximum(s, 0.0)


_LOG_2 = float(np.log(2.0))

#: every scoring mode of ``make_term_scorer``: the float32 ``lucene``
#: rank-identical BM25 first, then the float64 modes
MODES = (
    "lucene", "double", "lm_dirichlet", "lm_jelinek_mercer", "boolean",
    "classic", "sweet_spot", "dfr_gb2", "ib_ll", "dfi_chi2", "axiomatic_f2exp",
    "dfr_inl2", "ib_spl", "axiomatic_f1log", "indri_dirichlet",
    "multi_bm25_classic",
)
#: every float64 scoring mode; all share the double evaluation path
DOUBLE_MODES = frozenset(MODES[1:])


@dataclass(frozen=True)
class ClassicScorer:
    """ClassicSimilarity — Lucene's historic TF-IDF
    (similarities/ClassicSimilarity.java:45-71 composed by
    TFIDFSimilarity.TFIDFScorer.score, TFIDFSimilarity.java:472-476):

        score = boost · idf · sqrt(freq) · normTable[dl_byte]
        idf   = ln((docCount + 1) / (docFreq + 1)) + 1
        normTable[i≥1] = 1 / sqrt(len_i),  normTable[0] = 1 / normTable[255]

    dl is the SmallFloat-quantized length like every scorer here. Computed
    in float64 with the same expression order so the DuckDB oracle
    reproduces it bit-for-bit at 4-decimal rounding. Non-decreasing in freq
    and non-increasing in dl, so its ``score`` at a skyline pair is a
    block-max bound (module docstring)."""

    weight: float
    cache: np.ndarray  # float64[256]: TFIDF normTable

    @classmethod
    def create(cls, doc_freq: int, doc_count: int, boost: float = 1.0):
        idf = np.log((doc_count + 1.0) / (doc_freq + 1.0)) + 1.0
        return cls(weight=float(boost * idf), cache=_classic_norm_table())

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        f = np.asarray(freqs, dtype=np.float64)
        return (
            self.weight
            * np.sqrt(f)
            * self.cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        )


def _classic_norm_table() -> np.ndarray:
    lens = BYTE4_DECODE_TABLE.astype(np.float64)
    with np.errstate(divide="ignore"):
        norm = 1.0 / np.sqrt(lens)
    norm[0] = 1.0 / norm[255]  # TFIDFSimilarity.java:447
    return norm


#: the engine's configured sweet spot (setLengthNormFactors /
#: setBaselineTfFactors): plateau 40..120 terms (norm 1.0 inside, sqrt
#: falloff outside, steepness 0.5) and a floored tf (freq ≤ 2 → 1.5) —
#: fixed at module level like the LM μ/λ constants, since similarities
#: here are keyed by mode string
SWEET_SPOT_FACTORS = dict(
    ln_min=40, ln_max=120, ln_steep=0.5, tf_base=1.5, tf_min=2.0
)


@dataclass(frozen=True)
class SweetSpotScorer:
    """SweetSpotSimilarity (misc/SweetSpotSimilarity.java:34-176) — the
    ClassicSimilarity variant with a length-norm PLATEAU and a floored tf:

        lengthNorm(x) = 1/sqrt(steep·(|x−min| + |x−max| − (max−min)) + 1)
                        (SweetSpotSimilarity.lengthNorm, :111-120; == 1.0
                         for min ≤ x ≤ max, sqrt falloff outside)
        baselineTf(f) = 0 if f == 0; tf_base if f ≤ tf_min;
                        sqrt(f + tf_base² − tf_min) otherwise (:143-148)
        score = boost · idf · baselineTf(freq) · normTable[dl_byte]
        idf   = ln((docCount + 1) / (docFreq + 1)) + 1   (ClassicSimilarity)

    normTable follows TFIDFSimilarity.scorer (TFIDFSimilarity.java:442-447):
    table[i≥1] = lengthNorm(decoded length), table[0] = 1/table[255].
    Reference defaults (ln 1/1/0.5, tf 0/0) degrade to Classic exactly.

    lengthNorm is NOT monotone in dl (it rises toward the plateau from
    below), so a skyline pair's ``score`` does not bound the longer docs
    it stands for: block-max bounds come from ``impact_bound``."""

    weight: float
    tf_base: float
    tf_min: float
    cache: np.ndarray       # float64[256]: plateau normTable

    @classmethod
    def create(
        cls,
        doc_freq: int,
        doc_count: int,
        boost: float = 1.0,
        *,
        ln_min: int = 1,
        ln_max: int = 1,
        ln_steep: float = 0.5,
        tf_base: float = 0.0,
        tf_min: float = 0.0,
    ):
        idf = np.log((doc_count + 1.0) / (doc_freq + 1.0)) + 1.0
        lens = BYTE4_DECODE_TABLE.astype(np.float64)
        norm = 1.0 / np.sqrt(
            (ln_steep * ((np.abs(lens - ln_min) + np.abs(lens - ln_max)) - (ln_max - ln_min)))
            + 1.0
        )
        norm[0] = 1.0 / norm[255]  # TFIDFSimilarity.java:447
        return cls(
            weight=float(boost * idf),
            tf_base=float(tf_base),
            tf_min=float(tf_min),
            cache=norm,
        )

    def _tf(self, freqs: np.ndarray) -> np.ndarray:
        f = np.asarray(freqs, dtype=np.float64)
        out = np.where(
            f <= self.tf_min,
            self.tf_base,
            np.sqrt(f + (self.tf_base * self.tf_base) - self.tf_min),
        )
        return np.where(f == 0.0, 0.0, out)

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        return (
            self.weight
            * self._tf(freqs)
            * self.cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        )

    def impact_bound(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        """A bound of ``score`` over every posting with freq ≤ ``freqs`` and
        norm byte ≥ ``norms``: the score with the norm table replaced by its
        suffix max (baselineTf is non-decreasing in freq)."""
        bound = np.maximum.accumulate(self.cache[::-1])[::-1]
        return replace(self, cache=bound).score(freqs, norms)


@dataclass(frozen=True)
class DFRGB2Scorer:
    """DFR similarity in the GB2 configuration — BasicModelG ·
    AfterEffectB · NormalizationH2(c=1)
    (similarities/DFRSimilarity.java:127-130, BasicModelG.java:36-50,
    AfterEffectB.java:32-36, NormalizationH2.java:57-58):

        tfn    = freq · log2(1 + c·avgdl/dl)
        ae1p   = (ttf + 2) / (df + 1)          # AfterEffect.scoreTimes1pTfn
        λ      = (ttf + 1) / (N + ttf + 1)
        A      = log2(λ + 1),  B = log2((1 + λ)/λ)
        score  = boost · (B − (B − A)/(1 + tfn)) · ae1p

    B ≥ A so the score is non-decreasing in tfn (the reference rewrites
    A + B·tfn exactly this way to keep the bound monotone); tfn is
    increasing in freq and decreasing in dl ⇒ pruning bounds hold."""

    weight: float
    ae1p: float
    a: float
    b: float
    tfn_cache: np.ndarray  # float64[256]: log2(1 + avgdl/len) per norm byte

    @classmethod
    def create(
        cls, df: int, ttf: int, doc_count: int, sum_ttf: int, boost: float = 1.0
    ):
        avgdl = sum_ttf / doc_count
        lam = (ttf + 1.0) / (doc_count + (ttf + 1.0))
        a = np.log(lam + 1.0) / _LOG_2
        b = np.log((1.0 + lam) / lam) / _LOG_2
        lens = BYTE4_DECODE_TABLE.astype(np.float64)
        with np.errstate(divide="ignore"):
            tfn_cache = np.log(1.0 + avgdl / lens) / _LOG_2
        return cls(
            weight=float(boost),
            ae1p=(ttf + 2.0) / (df + 1.0),
            a=float(a),
            b=float(b),
            tfn_cache=tfn_cache,
        )

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        f = np.asarray(freqs, dtype=np.float64)
        tfn = f * self.tfn_cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        return self.weight * (
            (self.b - (self.b - self.a) / (1.0 + tfn)) * self.ae1p
        )


@dataclass(frozen=True)
class IBLLScorer:
    """Information-based similarity in the LL-DF-H2 configuration —
    DistributionLL · LambdaDF · NormalizationH2(c=1)
    (similarities/IBSimilarity.java:115-118, DistributionLL.java:33-35,
    LambdaDF.java:32-38, NormalizationH2.java:57-58):

        λ     = float32((df + 1) / (N + 1))    # LambdaDF casts to float
        tfn   = freq · log2(1 + c·avgdl/dl)
        score = boost · (−ln(λ / (tfn + λ)))

    Monotone increasing in tfn ⇒ pruning bounds hold."""

    weight: float
    lam: float
    tfn_cache: np.ndarray  # float64[256]

    @classmethod
    def create(cls, df: int, doc_count: int, sum_ttf: int, boost: float = 1.0):
        avgdl = sum_ttf / doc_count
        lam = float(np.float32((df + 1.0) / (doc_count + 1.0)))
        lens = BYTE4_DECODE_TABLE.astype(np.float64)
        with np.errstate(divide="ignore"):
            tfn_cache = np.log(1.0 + avgdl / lens) / _LOG_2
        return cls(weight=float(boost), lam=lam, tfn_cache=tfn_cache)

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        f = np.asarray(freqs, dtype=np.float64)
        tfn = f * self.tfn_cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        return self.weight * -np.log(self.lam / (tfn + self.lam))


@dataclass(frozen=True)
class DFIScorer:
    """Divergence-from-independence with the chi-squared measure
    (similarities/DFISimilarity.java:70-80,
    IndependenceChiSquared.java:33-35):

        expected = (ttf + 1) · dl / (sumTTF + 1)
        score    = 0                         if freq ≤ expected
                 = boost · log2((freq − expected)² / expected + 1)

    Increasing in freq and decreasing in dl on the matching side, and the
    zero branch only lowers scores ⇒ the impact-skyline upper bound
    (max over (freq, norm) pairs) remains valid."""

    weight: float
    exp_cache: np.ndarray  # float64[256]: expected per norm byte

    @classmethod
    def create(cls, ttf: int, sum_ttf: int, boost: float = 1.0):
        lens = BYTE4_DECODE_TABLE.astype(np.float64)
        exp_cache = (ttf + 1.0) * lens / (sum_ttf + 1.0)
        return cls(weight=float(boost), exp_cache=exp_cache)

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        f = np.asarray(freqs, dtype=np.float64)
        e = self.exp_cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        with np.errstate(divide="ignore", invalid="ignore"):
            measure = (f - e) * (f - e) / e
            s = self.weight * (np.log(measure + 1.0) / _LOG_2)
        return np.where(f <= e, 0.0, s)


@dataclass(frozen=True)
class AxiomaticF2EXPScorer:
    """Axiomatic F2EXP (similarities/AxiomaticF2EXP.java:59-85 composed by
    Axiomatic.java:107-117, defaults s=0.25, k=0.35):

        tfln  = freq / (freq + s + s·dl/avgdl)
        idf   = ((N + 1) / df) ^ k
        score = max(0, boost · tfln · idf)     # tf = ln = 1, gamma = 0

    Increasing in freq, decreasing in dl ⇒ pruning bounds hold."""

    weight: float
    idf_part: float
    den_cache: np.ndarray  # float64[256]: s + s·dl/avgdl per norm byte

    @classmethod
    def create(
        cls,
        df: int,
        doc_count: int,
        sum_ttf: int,
        boost: float = 1.0,
        s: float = 0.25,
        k: float = 0.35,
    ):
        avgdl = sum_ttf / doc_count
        lens = BYTE4_DECODE_TABLE.astype(np.float64)
        den_cache = s + (s * lens) / avgdl
        idf_part = float(((doc_count + 1.0) / df) ** k) if df > 0 else 0.0
        return cls(weight=float(boost), idf_part=idf_part, den_cache=den_cache)

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        f = np.asarray(freqs, dtype=np.float64)
        den = self.den_cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        s = self.weight * ((f / (f + den)) * self.idf_part)
        return np.maximum(s, 0.0)


@dataclass(frozen=True)
class DFRInL2Scorer:
    """DFR similarity in the I(n)L2 configuration — BasicModelIn ·
    AfterEffectL · NormalizationH2(c=1)
    (similarities/DFRSimilarity.java:127-130, BasicModelIn.java:33-44,
    AfterEffectL.java:28-31, NormalizationH2.java:57-58):

        tfn   = freq · log2(1 + avgdl/dl)
        A     = log2((N + 1)/(df + 0.5))
        score = boost · A · (1 − 1/(1 + tfn))   # aeTimes1pTfn = 1 for L

    The reference rewrites A·tfn/(1+tfn) exactly this way so the result is
    non-decreasing in tfn ⇒ impacts-based pruning bounds hold."""

    weight: float
    a: float
    tfn_cache: np.ndarray  # float64[256]: log2(1 + avgdl/len) per norm byte

    @classmethod
    def create(
        cls, df: int, doc_count: int, sum_ttf: int, boost: float = 1.0
    ):
        avgdl = sum_ttf / doc_count
        a = np.log((doc_count + 1.0) / (df + 0.5)) / _LOG_2
        lens = BYTE4_DECODE_TABLE.astype(np.float64)
        with np.errstate(divide="ignore"):
            tfn_cache = np.log(1.0 + avgdl / lens) / _LOG_2
        return cls(weight=float(boost), a=float(a), tfn_cache=tfn_cache)

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        f = np.asarray(freqs, dtype=np.float64)
        tfn = f * self.tfn_cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        return self.weight * (self.a * (1.0 - 1.0 / (1.0 + tfn)))


@dataclass(frozen=True)
class IBSPLScorer:
    """Information-based similarity in the SPL-TTF-H2 configuration —
    DistributionSPL · LambdaTTF · NormalizationH2(c=1)
    (similarities/IBSimilarity.java:115-118, DistributionSPL.java:33-58,
    LambdaTTF.java:29-38, NormalizationH2.java:57-58):

        λ     = float32((ttf + 1)/(N + 1))      # LambdaTTF's float cast,
                                                # nextUp'd when it rounds to 1
        tfn   = freq · log2(1 + avgdl/dl)
        q     = 1 − 1/(tfn + 1)                 # nextDown(1) guard
        score = boost · −ln((λ^q − λ)/(1 − λ))  # λ^q≠λ enforced like :47-56

    q is non-decreasing in tfn and the log ratio shrinks toward 0 with q in
    both λ<1 and λ>1 regimes ⇒ score is non-decreasing in tfn and the
    impacts-based bound holds."""

    weight: float
    lam: float
    tfn_cache: np.ndarray  # float64[256]

    @classmethod
    def create(
        cls, ttf: int, doc_count: int, sum_ttf: int, boost: float = 1.0
    ):
        avgdl = sum_ttf / doc_count
        lam32 = np.float32((ttf + 1.0) / (doc_count + 1.0))
        if lam32 == np.float32(1.0):
            lam32 = np.nextafter(lam32, np.float32(2.0))
        lens = BYTE4_DECODE_TABLE.astype(np.float64)
        with np.errstate(divide="ignore"):
            tfn_cache = np.log(1.0 + avgdl / lens) / _LOG_2
        return cls(
            weight=float(boost), lam=float(lam32), tfn_cache=tfn_cache
        )

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        f = np.asarray(freqs, dtype=np.float64)
        tfn = f * self.tfn_cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        q = 1.0 - 1.0 / (tfn + 1.0)
        q = np.where(q >= 1.0, np.nextafter(1.0, 0.0), q)
        p = np.power(self.lam, q)
        bump = (
            np.nextafter(self.lam, 1.0)
            if self.lam < 1.0
            else np.nextafter(self.lam, 0.0)
        )
        p = np.where(p == self.lam, bump, p)
        return self.weight * -np.log((p - self.lam) / (1.0 - self.lam))


@dataclass(frozen=True)
class AxiomaticF1LOGScorer:
    """Axiomatic F1LOG (similarities/AxiomaticF1LOG.java:52-84 composed by
    Axiomatic.java:107-120, default s=0.25):

        tf    = 1 + ln(1 + ln(freq + 1))        # :55 bumps freq first
        ln_c  = (avgdl + s)/(avgdl + dl·s)
        idf   = ln((N + 1)/df)
        score = max(0, boost · tf · ln_c · idf)  # tfln = 1, gamma = 0

    Increasing in freq, decreasing in dl ⇒ pruning bounds hold."""

    weight: float
    idf_part: float
    ln_cache: np.ndarray  # float64[256]: (avgdl+s)/(avgdl+dl·s) per norm byte

    @classmethod
    def create(
        cls,
        df: int,
        doc_count: int,
        sum_ttf: int,
        boost: float = 1.0,
        s: float = 0.25,
    ):
        avgdl = sum_ttf / doc_count
        lens = BYTE4_DECODE_TABLE.astype(np.float64)
        ln_cache = (avgdl + s) / (avgdl + lens * s)
        idf_part = (
            float(np.log((doc_count + 1.0) / df)) if df > 0 else 0.0
        )
        return cls(weight=float(boost), idf_part=idf_part, ln_cache=ln_cache)

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        f = np.asarray(freqs, dtype=np.float64)
        tf = 1.0 + np.log(1.0 + np.log(f + 1.0))
        ln_c = self.ln_cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        return np.maximum(self.weight * (tf * ln_c * self.idf_part), 0.0)


@dataclass(frozen=True)
class IndriDirichletScorer:
    """Indri's Dirichlet-smoothed LM (similarities/
    IndriDirichletSimilarity.java:69-73,105-119, mu = 2000 default):

        cp    = ttf / sumTTF                  # IndriCollectionModel
        score = ln((freq + mu·cp) / (dl + mu))

    NOT clamped at 0 (scores are log-probabilities, always negative) and
    the reference applies no boost in score(); ``weight`` is kept at the
    boost value only to drive the engine's float64 dtype selection and is
    multiplied in (identity at the default boost=1). The engine's top-k /
    WAND θ starts at −inf so negative scores rank correctly. Monotone
    increasing in freq, decreasing in dl ⇒ pruning bounds hold."""

    weight: float
    mu_cp: float
    den_cache: np.ndarray  # float64[256]: dl + mu per norm byte

    @classmethod
    def create(
        cls, ttf: int, sum_ttf: int, mu: float = 2000.0, boost: float = 1.0
    ):
        cp = ttf / max(sum_ttf, 1)
        lens = BYTE4_DECODE_TABLE.astype(np.float64)
        return cls(weight=float(boost), mu_cp=mu * cp, den_cache=lens + mu)

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        f = np.asarray(freqs, dtype=np.float64)
        den = self.den_cache[np.asarray(norms, dtype=np.int64) & 0xFF]
        return self.weight * np.log((f + self.mu_cp) / den)


@dataclass(frozen=True)
class BooleanScorer:
    """BooleanSimilarity (similarities/BooleanSimilarity.java:31): score =
    boost, independent of freq, norm and collection stats — filter-style
    matching where only the match count (via clause sums) ranks. Constant,
    so its ``score`` at a skyline pair is a block-max bound (module
    docstring)."""

    weight: float

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        return np.full(np.asarray(freqs).shape, self.weight, dtype=np.float64)


@dataclass(frozen=True)
class SumSimScorer:
    """MultiSimilarity.MultiSimScorer (similarities/MultiSimilarity.java:73):
    phrase/multi-term weights under a SimilarityBase similarity score as the
    SUM of one subscorer per involved term, each evaluated at the phrase
    frequency — the path PhraseWeight takes when the Similarity builds one
    BasicStats per TermStatistics."""

    weight: float  # float64 marker for _float_dtype
    subs: tuple

    def score(self, freqs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        out = self.subs[0].score(freqs, norms)
        for sub in self.subs[1:]:
            out = out + sub.score(freqs, norms)
        return out


@dataclass(frozen=True)
class IntervalSaturationScorer:
    """Saturation scoring of the sloppy interval frequency:
    ``weight * (1 - pivot / (pivot + freq))`` — the default
    ``IntervalQuery`` score function (IntervalScoreFunction.java:66-74,
    written as 1 - k/(f+k) so rounding never makes it decrease with f).
    No IDF, no length norm: ``getMaxScore == boost``
    (IntervalScorer.java:91-94). ``weight`` is np.float32 in lucene mode
    so _float_dtype picks the engine-wide float32 path."""

    weight: object  # np.float32 (lucene) | float (double)
    pivot: float

    @classmethod
    def create(cls, mode: str, pivot: float, boost: float):
        if not (pivot > 0) or not np.isfinite(pivot):
            raise ValueError(f"pivot must be > 0, got: {pivot}")
        if mode == "lucene":
            return cls(weight=np.float32(boost), pivot=pivot)
        if mode in DOUBLE_MODES:
            # interval saturation has no similarity dependence — any
            # non-float32 mode takes the double path
            return cls(weight=float(boost), pivot=pivot)
        raise ValueError(f"unknown scoring mode {mode!r}")

    def score(self, freqs: np.ndarray, norms=None) -> np.ndarray:
        if isinstance(self.weight, np.float32):
            f = np.asarray(freqs, dtype=np.float32)
            p = np.float32(self.pivot)
            return self.weight * (np.float32(1.0) - p / (p + f))
        f = np.asarray(freqs, dtype=np.float64)
        return self.weight * (1.0 - self.pivot / (self.pivot + f))


def make_term_scorer(
    mode: str,
    doc_freq: int,
    doc_count: int,
    sum_ttf: int,
    boost: float = 1.0,
    ttf: int = 0,
):
    if mode == "lucene":
        return Bm25Scorer.create(doc_freq, doc_count, sum_ttf, boost=boost)
    if mode == "double":
        return QuantizedDoubleBm25.create(doc_freq, doc_count, sum_ttf, boost=boost)
    if mode == "lm_dirichlet":
        return LMDirichletScorer.create(ttf, max(sum_ttf, 1), boost=boost)
    if mode == "lm_jelinek_mercer":
        return LMJelinekMercerScorer.create(ttf, max(sum_ttf, 1), boost=boost)
    if mode == "boolean":
        return BooleanScorer(weight=float(boost))
    if mode == "classic":
        return ClassicScorer.create(max(doc_freq, 1), doc_count, boost=boost)
    if mode == "sweet_spot":
        return SweetSpotScorer.create(
            max(doc_freq, 1), doc_count, boost=boost, **SWEET_SPOT_FACTORS
        )
    if mode == "dfr_gb2":
        return DFRGB2Scorer.create(
            doc_freq, ttf, doc_count, max(sum_ttf, 1), boost=boost
        )
    if mode == "ib_ll":
        return IBLLScorer.create(doc_freq, doc_count, max(sum_ttf, 1), boost=boost)
    if mode == "dfi_chi2":
        return DFIScorer.create(ttf, max(sum_ttf, 1), boost=boost)
    if mode == "axiomatic_f2exp":
        return AxiomaticF2EXPScorer.create(
            max(doc_freq, 1), doc_count, max(sum_ttf, 1), boost=boost
        )
    if mode == "dfr_inl2":
        return DFRInL2Scorer.create(
            max(doc_freq, 1), doc_count, max(sum_ttf, 1), boost=boost
        )
    if mode == "ib_spl":
        return IBSPLScorer.create(
            ttf, doc_count, max(sum_ttf, 1), boost=boost
        )
    if mode == "axiomatic_f1log":
        return AxiomaticF1LOGScorer.create(
            max(doc_freq, 1), doc_count, max(sum_ttf, 1), boost=boost
        )
    if mode == "indri_dirichlet":
        return IndriDirichletScorer.create(ttf, max(sum_ttf, 1), boost=boost)
    if mode == "multi_bm25_classic":
        # MultiSimilarity (similarities/MultiSimilarity.java:56-70):
        # MultiSimScorer SUMS one full sub-SimScorer per wrapped
        # similarity at the same (freq, norm) — here BM25 + Classic, the
        # javadoc's canonical combination
        return SumSimScorer(
            weight=float(boost),
            subs=(
                QuantizedDoubleBm25.create(
                    doc_freq, doc_count, sum_ttf, boost=boost
                ),
                ClassicScorer.create(max(doc_freq, 1), doc_count, boost=boost),
            ),
        )
    raise ValueError(f"unknown scoring mode {mode!r}")


def make_phrase_scorer(
    mode: str,
    per_term_doc_freqs: list[int],
    doc_count: int,
    sum_ttf: int,
    boost: float = 1.0,
    per_term_ttfs: list[int] | None = None,
):
    if mode in (
        "dfr_gb2", "ib_ll", "dfi_chi2", "axiomatic_f2exp",
        "indri_dirichlet", "dfr_inl2", "ib_spl", "axiomatic_f1log",
    ):
        # SimilarityBase similarities score multi-term weights as a SUM of
        # one BasicSimScorer per involved term, each evaluated at the
        # phrase frequency (SimilarityBase.java:56-68 → MultiSimScorer)
        ttfs = per_term_ttfs or [0] * len(per_term_doc_freqs)
        subs = tuple(
            make_term_scorer(mode, df, doc_count, sum_ttf, boost=boost, ttf=t)
            for df, t in zip(per_term_doc_freqs, ttfs)
        )
        return SumSimScorer(weight=float(boost), subs=subs)
    if mode == "classic":
        # TFIDFSimilarity fakes one phrase idf by summing the per-term
        # idfs (TFIDFSimilarity.idfExplain over termStats[])
        idf_sum = sum(
            np.log((doc_count + 1.0) / (df + 1.0)) + 1.0
            for df in per_term_doc_freqs
        )
        return ClassicScorer(
            weight=float(boost * idf_sum), cache=_classic_norm_table()
        )
    if mode == "sweet_spot":
        # TFIDFSimilarity semantics: one summed idf over the termStats[]
        idf_sum = sum(
            np.log((doc_count + 1.0) / (df + 1.0)) + 1.0
            for df in per_term_doc_freqs
        )
        proto = SweetSpotScorer.create(1, doc_count, **SWEET_SPOT_FACTORS)
        return SweetSpotScorer(
            weight=float(boost * idf_sum),
            tf_base=proto.tf_base,
            tf_min=proto.tf_min,
            cache=proto.cache,
        )
    if mode == "multi_bm25_classic":
        # each wrapped similarity handles the multi-term stats its own way
        # (MultiSimilarity.scorer passes ALL termStats to every sub), then
        # the per-doc scores sum
        return SumSimScorer(
            weight=float(boost),
            subs=(
                make_phrase_scorer(
                    "double", per_term_doc_freqs, doc_count, sum_ttf,
                    boost=boost, per_term_ttfs=per_term_ttfs,
                ),
                make_phrase_scorer(
                    "classic", per_term_doc_freqs, doc_count, sum_ttf,
                    boost=boost, per_term_ttfs=per_term_ttfs,
                ),
            ),
        )
    if mode == "lm_dirichlet":
        subs = tuple(
            LMDirichletScorer.create(t, max(sum_ttf, 1), boost=boost)
            for t in (per_term_ttfs or [0] * len(per_term_doc_freqs))
        )
        return SumSimScorer(weight=float(boost), subs=subs)
    if mode == "lm_jelinek_mercer":
        subs = tuple(
            LMJelinekMercerScorer.create(t, max(sum_ttf, 1), boost=boost)
            for t in (per_term_ttfs or [0] * len(per_term_doc_freqs))
        )
        return SumSimScorer(weight=float(boost), subs=subs)
    if mode == "boolean":
        return BooleanScorer(weight=float(boost))
    if mode == "lucene":
        idf_sum = np.float32(
            sum(float(idf_value(df, doc_count)) for df in per_term_doc_freqs)
        )
        cache = Bm25Scorer.create(1, doc_count, sum_ttf).cache
        return Bm25Scorer(weight=np.float32(np.float32(boost) * idf_sum), cache=cache)
    if mode == "double":
        idf_sum = sum(
            float(np.log(1.0 + (doc_count - df + 0.5) / (df + 0.5)))
            for df in per_term_doc_freqs
        )
        cache = QuantizedDoubleBm25.create(1, doc_count, sum_ttf).cache
        return QuantizedDoubleBm25(weight=boost * idf_sum, cache=cache)
    raise ValueError(f"unknown scoring mode {mode!r}")


def scoring_leaves(q, out: set | None = None) -> set:
    """All scoring leaf nodes (Term/Phrase/Synonym/TermInSet) under q.
    MUST_NOT sides are included: exclusion evaluation needs postings access,
    and a leaf that never scores simply gets an unused scorer."""
    if out is None:
        out = set()
    from .spans import is_span

    if isinstance(
        q,
        (
            TermQuery,
            PhraseQuery,
            MultiPhraseQuery,
            SynonymQuery,
            TermInSetQuery,
            CombinedFieldQuery,
            FeatureQuery,
            IntervalNear,
            IntervalFilter,
            IntervalAtLeast,
            IntervalOr,
            PayloadScoreQuery,
            TermAutomatonQuery,
        ),
    ) or is_span(q):
        out.add(q)
    elif isinstance(q, BooleanQuery):
        for c in (*q.must, *q.should, *q.must_not):
            scoring_leaves(c, out)
    elif isinstance(q, DisjunctionMaxQuery):
        for c in q.disjuncts:
            scoring_leaves(c, out)
    elif isinstance(q, ConstantScoreQuery):
        scoring_leaves(q.query, out)
    elif isinstance(q, ToParentBlockJoinQuery):
        scoring_leaves(q.child, out)
        scoring_leaves(q.parents, out)
    elif isinstance(q, ToChildBlockJoinQuery):
        scoring_leaves(q.parent, out)
        scoring_leaves(q.parents, out)
    else:
        from .query import ParentChildrenBlockJoinQuery

        if isinstance(q, ParentChildrenBlockJoinQuery):
            scoring_leaves(q.child, out)
            scoring_leaves(q.parents, out)
    return out


def build_scorers(
    queries,
    tstats: dict[str, tuple[int, int]],
    doc_count: int,
    sum_ttf: int,
    mode: str,
    field_stats: dict[str, tuple[int, int]] | None = None,
) -> dict:
    """One scorer per scoring leaf across all given query ASTs.

    ``field_stats`` maps field name → (docCount, sumTotalTermFreq); leaves
    whose term carries a ``field\x1f`` namespace score against that
    field's CollectionStatistics (Lucene stats are per-field), all others
    against the (doc_count, sum_ttf) default."""

    def stats_for(term: str) -> tuple[int, int]:
        if field_stats and FIELD_SEP in term:
            f = term.split(FIELD_SEP, 1)[0]
            got = field_stats.get(f)
            if got is not None:
                return got
        return doc_count, sum_ttf

    from .spans import is_span as _is_span
    from .spans import span_terms

    leaves: set = set()
    for q in queries:
        scoring_leaves(q, leaves)
    scorers: dict = {}
    for leaf in leaves:
        if _is_span(leaf):
            # one TermStates entry per DISTINCT term — repeated terms
            # contribute their idf once (SpanWeight.buildSimWeight over
            # the extractTermStates Map); sorted order fixes the float
            # sum order the SQL oracle mirrors
            terms = sorted(span_terms(leaf))
            dc, st = stats_for(terms[0]) if terms else (doc_count, sum_ttf)
            scorers[leaf] = make_phrase_scorer(
                mode,
                [tstats.get(t, (0, 0))[0] for t in terms],
                dc,
                st,
                boost=1.0,
                per_term_ttfs=[tstats.get(t, (0, 0))[1] for t in terms],
            )
            continue
        if isinstance(leaf, (IntervalNear, IntervalFilter, IntervalAtLeast, IntervalOr)):
            # pure saturation of the sloppy interval freq — no stats/norms
            # (IntervalQuery.java:71-72 default saturationFunction(pivot))
            scorers[leaf] = IntervalSaturationScorer.create(
                mode, leaf.pivot, leaf.boost
            )
            continue
        if isinstance(leaf, FeatureQuery):
            # no term/collection stats: the contribution is a pure function
            # of the stored feature value (FeatureField.java:306-499)
            scorers[leaf] = FeatureScorer(
                mode,
                leaf.function,
                leaf.weight * leaf.boost,
                pivot=leaf.pivot,
                a=leaf.a,
                scaling=leaf.scaling,
            )
        elif isinstance(leaf, CombinedFieldQuery):
            # pseudo TermStatistics: docFreq = max over fields, ttf =
            # weighted sum; pseudo CollectionStatistics: docCount = max,
            # sumTTF = weighted sum with Java's long-compound-assignment
            # truncation (CombinedFieldQuery.java:273-315). The exists
            # term's (df, ttf) ARE the field's (docCount, sumTTF).
            df = 0
            for t in leaf.terms:
                df = max(df, tstats.get(t, (0, 0))[0])
            dc, sttf = 0, 0
            for et, w in zip(leaf.exists_terms, leaf.weights):
                fdc, fst = tstats.get(et, (0, 0))
                if fdc > 0:
                    dc = max(dc, fdc)
                    sttf = int(sttf + w * fst)  # long += double truncation
            scorers[leaf] = make_term_scorer(
                mode, df, max(dc, 1), max(sttf, 1), boost=leaf.boost
            )
        elif isinstance(leaf, PayloadScoreQuery):
            # the wrapped term's SimScorer — consulted only when
            # include_span_score multiplies payloadScore by spanScore
            # (PayloadScoreQuery.java:204-208); boost rides on the payload
            # side so it applies in both modes
            df = tstats.get(leaf.term, (0, 0))[0]
            dc, st = stats_for(leaf.term)
            scorers[leaf] = make_term_scorer(
                mode, df, dc, st, boost=1.0,
                ttf=tstats.get(leaf.term, (0, 0))[1],
            )
        elif isinstance(leaf, TermQuery):
            df = getattr(leaf, "df_override", 0) or tstats.get(leaf.term, (0, 0))[0]
            dc, st = stats_for(leaf.term)
            scorers[leaf] = make_term_scorer(
                mode, df, dc, st, boost=leaf.boost,
                ttf=getattr(leaf, "ttf_override", 0)
                or tstats.get(leaf.term, (0, 0))[1],
            )
        elif isinstance(leaf, PhraseQuery):
            dc, st = stats_for(leaf.terms[0])
            scorers[leaf] = make_phrase_scorer(
                mode,
                [tstats.get(t, (0, 0))[0] for t in leaf.terms],
                dc,
                st,
                boost=leaf.boost,
                per_term_ttfs=[tstats.get(t, (0, 0))[1] for t in leaf.terms],
            )
        elif isinstance(leaf, TermAutomatonQuery):
            # idf summed over the automaton's DISTINCT terms (createWeight
            # gathers one TermStates per term id — each term contributes
            # once regardless of how many transitions carry it)
            terms = list(leaf.distinct_terms)
            dc, st = stats_for(terms[0]) if terms else (doc_count, sum_ttf)
            scorers[leaf] = make_phrase_scorer(
                mode,
                [tstats.get(t, (0, 0))[0] for t in terms],
                dc,
                st,
                boost=leaf.boost,
                per_term_ttfs=[tstats.get(t, (0, 0))[1] for t in terms],
            )
        elif isinstance(leaf, MultiPhraseQuery):
            # idf summed over every involved term, slot-major order
            # (MultiPhraseQuery scoring via idfExplain over all terms)
            all_terms = [t for slot in leaf.slots for t in slot]
            dc, st = stats_for(all_terms[0])
            scorers[leaf] = make_phrase_scorer(
                mode,
                [tstats.get(t, (0, 0))[0] for t in all_terms],
                dc,
                st,
                boost=leaf.boost,
                per_term_ttfs=[tstats.get(t, (0, 0))[1] for t in all_terms],
            )
        elif isinstance(leaf, SynonymQuery):
            # blended: df = max, ttf = sum (SynonymQuery.java createWeight)
            df = max((tstats.get(t, (0, 0))[0] for t in leaf.terms), default=0)
            dc, st = stats_for(leaf.terms[0]) if leaf.terms else (doc_count, sum_ttf)
            scorers[leaf] = make_term_scorer(
                mode, df, dc, st, boost=leaf.boost,
                ttf=sum(tstats.get(t, (0, 0))[1] for t in leaf.terms),
            )
        elif isinstance(leaf, TermInSetQuery):
            pass  # constant-score: no BM25 scorer needed
    return scorers
