"""Key mappings: value <-> integer bucket index with relative-accuracy bound.

Semantics-parity with DataDog/ddsketch-ruby (reference repo), re-expressed as
vectorized NumPy kernels:

- base derivation of gamma / multiplier / min_possible / max_possible:
  reference lib/ddsketch/mapping/key_mapping.rb:46-60
- key(v)  = trunc(ceil(log_gamma(v)) + offset)   (key_mapping.rb:69-71;
  Ruby ``Integer()`` truncates toward zero, relevant for fractional offsets)
- value(k) = pow_gamma(k - offset) * 2/(1+gamma) (key_mapping.rb:80-82)
- logarithmic: exact log2-based mapping (logarithmic_key_mapping.rb:10-23)
- linear: frexp-based log2 approximation (linear_interpolated_key_mapping.rb:35-49)
- cubic: cubic polynomial on the significand, Cardano inverse
  (cubically_interpolated_key_mapping.rb:10-67)

All batch entry points take/return NumPy arrays (float64 / int64); scalar
paths route through the batch path so scalar and vector results are
bit-identical.
"""

from __future__ import annotations

import math
import sys

import numpy as np

__all__ = [
    "KeyMapping",
    "LogarithmicKeyMapping",
    "LinearlyInterpolatedKeyMapping",
    "CubicallyInterpolatedKeyMapping",
    "mapping_from_name",
]


def _libm(fn, values: np.ndarray) -> np.ndarray:
    """``fn`` (a libm scalar function) applied element by element on
    Python floats, so the bits do not depend on numpy's SIMD dispatch."""
    out = [fn(t) for t in np.atleast_1d(values).tolist()]
    return np.array(out, dtype=np.float64).reshape(np.shape(values))


def _exp2(t: float) -> float:
    """2**t by libm pow; overflow gives inf, as np.exp2 does."""
    try:
        return 2.0**t
    except OverflowError:
        return math.inf


class KeyMapping:
    """Abstract value<->key bijection with relative accuracy guarantee.

    For any value in (min_possible, max_possible), ``value(key(v))`` is within
    relative error ``relative_accuracy`` of ``v``.
    """

    #: serialization tag: None | "linear" | "cubic"
    interpolation: str | None = None

    def __init__(self, relative_accuracy: float, offset: float = 0.0) -> None:
        if relative_accuracy <= 0 or relative_accuracy >= 1:
            raise ValueError("Relative accuracy must be between 0 and 1.")
        self.relative_accuracy = float(relative_accuracy)
        self.offset = float(offset)

        gamma_mantissa = 2.0 * relative_accuracy / (1.0 - relative_accuracy)
        self.gamma = 1.0 + gamma_mantissa
        # 1 / ln(gamma); subclasses rescale (see below).
        self._multiplier = 1.0 / math.log(gamma_mantissa + 1.0)
        self.min_possible = sys.float_info.min * self.gamma
        self.max_possible = sys.float_info.max / self.gamma

    # -- subclass hooks (vectorized) ------------------------------------
    def _log_gamma(self, values: np.ndarray) -> np.ndarray:  # pragma: no cover
        raise NotImplementedError

    def _pow_gamma(self, values: np.ndarray) -> np.ndarray:  # pragma: no cover
        raise NotImplementedError

    # -- public API ------------------------------------------------------
    def key_batch(self, values: np.ndarray) -> np.ndarray:
        """Bucket keys for an array of positive values -> int64."""
        v = np.asarray(values, dtype=np.float64)
        raw = np.ceil(self._log_gamma(v)) + self.offset
        # trunc toward zero, matching Ruby Integer() for fractional offsets
        return np.trunc(raw).astype(np.int64)

    def value_batch(self, keys: np.ndarray) -> np.ndarray:
        """Representative value of each bucket key -> float64."""
        k = np.asarray(keys, dtype=np.float64)
        return self._pow_gamma(k - self.offset) * (2.0 / (1.0 + self.gamma))

    def key(self, value: float) -> int:
        return int(self.key_batch(np.array([value]))[0])

    def value(self, key: int) -> float:
        return float(self.value_batch(np.array([key]))[0])

    # -- merge compatibility / codec --------------------------------------
    def same_gamma(self, other: "KeyMapping") -> bool:
        return self.gamma == other.gamma

    @property
    def name(self) -> str:
        return _NAME_BY_CLASS[type(self)]


class LogarithmicKeyMapping(KeyMapping):
    """Memory-optimal exact-log mapping (reference logarithmic_key_mapping.rb)."""

    interpolation = None

    def __init__(self, relative_accuracy: float, offset: float = 0.0) -> None:
        super().__init__(relative_accuracy, offset)
        self._multiplier *= math.log(2.0)  # => 1/log2(gamma)

    def _log_gamma(self, values: np.ndarray) -> np.ndarray:
        return np.log2(values) * self._multiplier

    def _pow_gamma(self, values: np.ndarray) -> np.ndarray:
        # libm pow, not np.exp2: numpy sends exp2 to a SIMD loop whose
        # last ulp depends on the CPU (AVX-512 or not), so one sketch
        # would give different quantile bits on different executors. The
        # reference's 2**x is libm pow; this path only sees the handful of
        # keys picked at quantile time, so the scalar loop costs nothing.
        return _libm(_exp2, values / self._multiplier)


class LinearlyInterpolatedKeyMapping(KeyMapping):
    """log2 approximated linearly between powers of two via frexp bits."""

    interpolation = "linear"

    def _log2_approx(self, values: np.ndarray) -> np.ndarray:
        mantissa, exponent = np.frexp(values)  # v = m * 2**e, m in [0.5, 1)
        significand = 2.0 * mantissa - 1.0  # in [0, 1)
        return significand + (exponent - 1.0)

    def _exp2_approx(self, values: np.ndarray) -> np.ndarray:
        exponent = np.floor(values) + 1.0
        mantissa = (values - exponent + 2.0) / 2.0
        return np.ldexp(mantissa, exponent.astype(np.int64))

    def _log_gamma(self, values: np.ndarray) -> np.ndarray:
        return self._log2_approx(values) * self._multiplier

    def _pow_gamma(self, values: np.ndarray) -> np.ndarray:
        return self._exp2_approx(values / self._multiplier)


class CubicallyInterpolatedKeyMapping(KeyMapping):
    """log2 approximated by a cubic polynomial of the significand.

    Constants and Cardano inverse per reference
    cubically_interpolated_key_mapping.rb:10-67.
    """

    interpolation = "cubic"

    _A = 6.0 / 35.0
    _B = -3.0 / 5.0
    _C = 10.0 / 7.0

    def __init__(self, relative_accuracy: float, offset: float = 0.0) -> None:
        super().__init__(relative_accuracy, offset)
        self._multiplier /= self._C

    def _cubic_log2_approx(self, values: np.ndarray) -> np.ndarray:
        mantissa, exponent = np.frexp(values)
        s = 2.0 * mantissa - 1.0
        return ((self._A * s + self._B) * s + self._C) * s + (exponent - 1.0)

    def _cubic_exp2_approx(self, values: np.ndarray) -> np.ndarray:
        A, B, C = self._A, self._B, self._C
        exponent = np.floor(values)
        frac = values - exponent
        delta_0 = B * B - 3.0 * A * C
        delta_1 = 2.0 * B**3 - 9.0 * A * B * C - 27.0 * A * A * frac
        # libm cbrt, not np.cbrt: numpy's SIMD cbrt can differ from glibc's
        # in the last ulp; the reference's Math.cbrt (and any SQL oracle's
        # CBRT) is libm, and this path only ever sees a handful of keys at
        # quantile-extraction time, so the scalar loop costs nothing.
        cbrt_arg = (delta_1 - np.sqrt(delta_1 * delta_1 - 4.0 * delta_0**3)) / 2.0
        cardano = _libm(math.cbrt, cbrt_arg)
        significand_plus_one = -(B + cardano + delta_0 / cardano) / (3.0 * A) + 1.0
        mantissa = significand_plus_one / 2.0
        return np.ldexp(mantissa, exponent.astype(np.int64) + 1)

    def _log_gamma(self, values: np.ndarray) -> np.ndarray:
        return self._cubic_log2_approx(values) * self._multiplier

    def _pow_gamma(self, values: np.ndarray) -> np.ndarray:
        return self._cubic_exp2_approx(values / self._multiplier)


_CLASS_BY_NAME = {
    "logarithmic": LogarithmicKeyMapping,
    "linear": LinearlyInterpolatedKeyMapping,
    "cubic": CubicallyInterpolatedKeyMapping,
}
_NAME_BY_CLASS = {v: k for k, v in _CLASS_BY_NAME.items()}


def mapping_from_name(
    name: str, relative_accuracy: float, offset: float = 0.0
) -> KeyMapping:
    try:
        cls = _CLASS_BY_NAME[name]
    except KeyError:
        raise ValueError(f"unknown mapping {name!r}; one of {sorted(_CLASS_BY_NAME)}")
    return cls(relative_accuracy, offset)
