"""FeatureField: static ranking signals stored as postings term-frequency.

Reference: lucene/core/src/java/org/apache/lucene/document/FeatureField.java
- encode: freq = floatToIntBits(v) >>> 15 (:184-185) — top 9 exponent bits
  + 8 mantissa bits; integers 1..511 round-trip exactly
- decode: intBitsToFloat(freq << 15) (:247-248)
- LogFunction:        (float)(w * Math.log(a + decode(freq)))        (:338)
- SaturationFunction: w * (1 - pivot / (f + pivot)), pure float ops  (:414)
- SigmoidFunction:    (float)(w * (1 - pivot^a / (f^a + pivot^a)))   (:478)

The value must be positive and finite (FeatureField.java:179-182). Scores
are monotone in freq, so a block's impact-skyline max freq bounds the
feature's contribution (FeatureQuery's ImpactsSource uses the same fact).
"""

from __future__ import annotations

import numpy as np

__all__ = ["encode_feature", "decode_feature", "FeatureScorer", "MAX_FREQ"]

MAX_FREQ = int(np.float32(np.finfo(np.float32).max).view(np.uint32)) >> 15


def encode_feature(values) -> np.ndarray:
    """float feature value -> postings freq (FeatureField.java:184-185)."""
    v = np.asarray(values, dtype=np.float32)
    if v.size and (not np.all(np.isfinite(v)) or np.any(v <= 0)):
        raise ValueError("feature values must be positive and finite")
    return (v.view(np.uint32) >> np.uint32(15)).astype(np.int64)


def decode_feature(freqs) -> np.ndarray:
    """postings freq -> float32 feature value (FeatureField.java:247-248)."""
    bits = np.asarray(freqs, dtype=np.uint32) << np.uint32(15)
    return bits.view(np.float32)


class FeatureScorer:
    """Compiled scorer for one FeatureQuery leaf. ``mode`` follows the
    engine's scoring modes: 'lucene' mirrors the reference's float32/double
    op order exactly; 'double' computes everything in float64 (the SQL-
    oracle-parity mode)."""

    def __init__(
        self,
        mode: str,
        function: str,
        weight: float,
        pivot: float | None = None,
        a: float | None = None,
        scaling: float | None = None,
    ):
        if function not in ("log", "saturation", "sigmoid"):
            raise ValueError(f"unknown feature function {function!r}")
        if function == "log" and scaling is None:
            raise ValueError("log feature function needs scaling (a)")
        if function in ("saturation", "sigmoid") and pivot is None:
            raise ValueError(f"{function} feature function needs pivot")
        if function == "sigmoid" and a is None:
            raise ValueError("sigmoid feature function needs a (exponent)")
        self.mode = mode
        self.function = function
        # np.float32 weight doubles as the engine's dtype marker
        # (segment._float_dtype keys on it)
        self.weight = np.float32(weight) if mode == "lucene" else float(weight)
        self.pivot = None if pivot is None else float(pivot)
        self.a = None if a is None else float(a)
        self.scaling = None if scaling is None else float(scaling)

    def score(self, freqs: np.ndarray, norms=None) -> np.ndarray:
        """Per-doc contribution; norms are ignored (FeatureField omits
        norms — the signal is doc-level, not length-normalized)."""
        f32 = decode_feature(freqs)
        if self.function == "saturation":
            if self.mode == "lucene":
                # w * (1 - pivot / (f + pivot)) in float32 (:414)
                w = np.float32(self.weight)
                p = np.float32(self.pivot)
                return (w * (np.float32(1.0) - p / (f32 + p))).astype(np.float32)
            f = f32.astype(np.float64)
            return self.weight * (1.0 - self.pivot / (f + self.pivot))
        f = f32.astype(np.float64)
        w = float(self.weight)
        if self.function == "log":
            out = w * np.log(self.scaling + f)  # double (:338)
        else:  # sigmoid
            ppa = float(self.pivot) ** float(self.a)  # Math.pow double (:445)
            out = w * (1.0 - ppa / (np.power(f, self.a) + ppa))
        if self.mode == "lucene":
            return out.astype(np.float32)  # final (float) cast (:338/:478)
        return out
