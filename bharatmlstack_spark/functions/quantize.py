"""Quantization round-trip functions: fp16, fp8-E5M2, fp8-E4M3.

The reference stores features at narrow float widths and serves
cast-on-read quantized projections (``feature@DataTypeFP16`` — ref:
online-feature-store/internal/handler/feature/retrieve.go:1071-1090,
internal/quantization/quantization_utils.go:19-226, custom float8 codecs at
pkg/float8/float8_e5m2.go and float8_e4m3.go).

Spark has no fp16/fp8 types, so the *semantics* — "the value you read is the
value that survives the narrow encoding" — are provided by round-trip
functions: encode to the narrow format, decode back to float32. The Spark
forms are Catalyst expressions (HALF_EVEN ``bround`` at a power-of-two
quantum; no Python worker in the plan); the numpy cores are the model they
are tested against bit for bit.

Format notes (public IEEE-754 / OCP FP8 layouts):
- fp16: 1s/5e/10m — numpy float16 is exactly this.
- E5M2: 1s/5e/2m — bit-truncation of fp16 with round-to-nearest-even;
  inherits fp16's inf/nan.
- E4M3: the FN variant (1s/4e/3m, bias 7, no infinities, max finite 448,
  all-ones = NaN), matching the reference codec
  (pkg/float8/float8_e4m3.go: overflow encodes 0x7F = NaN); implemented
  here via a codebook + round-to-nearest-even search.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bharatmlstack_spark.functions.sqltext import quote_ident

# --------------------------------------------------------------------------
# numpy cores (pure, testable without Spark)
# --------------------------------------------------------------------------


def fp16_roundtrip_np(x: np.ndarray) -> np.ndarray:
    """float32/64 -> fp16 -> float32 (IEEE half, numpy-native)."""
    with np.errstate(over="ignore"):  # overflow -> fp16 inf is the intent
        return x.astype(np.float16).astype(np.float32)


def fp8e5m2_roundtrip_np(x: np.ndarray) -> np.ndarray:
    """float -> E5M2 -> float32.

    E5M2 is fp16 with the mantissa cut 10->2 bits, so encode = round-to-
    nearest-even on the low 8 bits of the fp16 bit pattern, decode = put the
    byte back in the high bits of an fp16.
    """
    with np.errstate(over="ignore"):  # overflow -> fp16 inf is the intent
        h = x.astype(np.float16)
    u = h.view(np.uint16)
    is_nan = np.isnan(h)
    # round-to-nearest-even at bit 8
    rounded = (u.astype(np.uint32) + 0x7F + ((u >> 8) & 1)).astype(np.uint32)
    # on mantissa overflow this carries into the exponent, which is the
    # correct behavior (rounds up to the next binade / to infinity)
    out = ((rounded >> 8) << 8).astype(np.uint16).view(np.float16)
    out = np.where(is_nan, np.float16(np.nan), out)
    return out.astype(np.float32)


def _e4m3fn_codebook() -> np.ndarray:
    """Non-negative E4M3FN values in (exp, mantissa) order, value-ascending.

    Index i <-> (exp = i//8, man = i%8), so index parity == mantissa parity
    (used for tie-to-even). The final slot (exp=15, man=7) is the NaN code;
    we keep its "virtual" value 480 as a sentinel — rounding onto it encodes
    NaN, exactly like the reference's overflow path (float8_e4m3.go: fBits >=
    1087<<20 -> 0x7F).
    """
    vals = []
    for exp in range(16):
        for man in range(8):
            if exp == 0:
                v = (man / 8.0) * 2.0**-6  # subnormal
            else:
                v = (1 + man / 8.0) * 2.0 ** (exp - 7)
            vals.append(v)
    return np.array(vals, dtype=np.float64)


_E4M3_POS = _e4m3fn_codebook()
_E4M3_NAN_IDX = len(_E4M3_POS) - 1  # virtual 480 slot == NaN code 0x7F
_E4M3_MAX = float(_E4M3_POS[-2])  # 448, largest finite


def fp8e4m3_roundtrip_np(x: np.ndarray) -> np.ndarray:
    """float -> E4M3FN -> float32 via codebook nearest-even search."""
    xf = np.asarray(x, dtype=np.float64)
    sign = np.signbit(xf)
    ax = np.abs(xf)
    nan = np.isnan(xf)
    idx = np.searchsorted(_E4M3_POS, ax, side="left").clip(0, _E4M3_NAN_IDX)
    lo_idx = np.maximum(idx - 1, 0)
    lo = _E4M3_POS[lo_idx]
    hi = _E4M3_POS[idx]
    dlo = ax - lo
    dhi = hi - ax
    take_lo = (dlo < dhi) | ((dlo == dhi) & (lo_idx % 2 == 0))
    near_idx = np.where(take_lo, lo_idx, idx)
    near = _E4M3_POS[near_idx]
    # overflow -> NaN (FN has no infinities): beyond the table, or rounded
    # onto the NaN slot
    to_nan = nan | (ax >= _E4M3_POS[-1]) | (near_idx == _E4M3_NAN_IDX)
    out = np.where(sign, -near, near)
    out = np.where(to_nan, np.nan, out)
    return out.astype(np.float32)


# --------------------------------------------------------------------------
# Spark column functions: Catalyst expressions (no Python worker)
# --------------------------------------------------------------------------
# Each codec is the SQL text of one expression over a column name, parsed
# by a single F.expr call: the same tree built from ~30 Column operations
# costs one py4j round trip each. A value rounds with bround (HALF_EVEN) at
# the power-of-two quantum 2^(e - mantissa bits) of its binade e, which is
# clamped at the format's smallest normal exponent (subnormals share that
# quantum); every step is exact in float64, so the results match the numpy
# cores bit for bit (tests/test_quantize_fuzz.py).


@dataclass(frozen=True)
class _Format:
    man: int  # stored mantissa bits
    exp_bits: int
    bias: int  # the smallest normal exponent is 1 - bias
    overflow: str  # predicate on {a} = |x|: x rounds past the largest finite
    nan_code: int  # canonical NaN code, sign bit clear
    inf: bool  # overflow gives ±inf (IEEE) or NaN (E4M3FN has no infinity)
    pre_man: int = 0  # E5M2 rounds through fp16's 10 mantissa bits first


_FORMATS = {
    "FP16": _Format(10, 5, 15, "{a} >= 65520", 0x7E00, True),
    # 61424 rounds to the fp16 value 61440, the E5M2 tie between 57344
    # (odd mantissa) and 65536, which is infinity
    "FP8E5M2": _Format(2, 5, 15, "{a} >= 61424", 0x7F, True, pre_man=10),
    # 464 ties 448 (even) with the NaN slot 480; NaN compares above it
    "FP8E4M3": _Format(3, 4, 7, "{a} > 464", 0x7F, False),
}


def _binade(a: str, f: _Format) -> tuple[str, str]:
    """SQL for (e, m): the clamped binade exponent of ``a`` = |x| and the
    HALF_EVEN-rounded integer significand in units of 2^(e - f.man). log2
    is inexact near powers of two, so floor(log2) is corrected by ±1; it
    is NULL at 0, which greatest() turns into the subnormal exponent."""
    e0 = f"floor(log2({a}))"
    e = (
        f"greatest({e0} + CASE WHEN power(2, {e0}) > {a} THEN -1 "
        f"WHEN power(2, {e0} + 1) <= {a} THEN 1 ELSE 0 END, {1 - f.bias})"
    )
    # E5M2 double-rounds: to fp16 first, then drops 8 more bits. fp16 has
    # the same exponent range, so one e serves both steps (a first step
    # that carries into the next binade lands on a power of two, which the
    # second keeps)
    if f.pre_man:
        m = f"bround(bround({a} / power(2, {e} - {f.pre_man})) / {2 ** (f.pre_man - f.man)})"
    else:
        m = f"bround({a} / power(2, {e} - {f.man}))"
    return e, m


def _roundtrip_sql(x: str, f: _Format) -> str:
    a = f"abs({x})"
    e, m = _binade(a, f)
    over = "Infinity" if f.inf else "NaN"
    # signum keeps the sign of -0.0 and of values that underflow to zero;
    # NaN takes the overflow branch and signum(NaN) keeps it NaN
    return (
        f"CAST(signum({x}) * CASE WHEN {f.overflow.format(a=a)} THEN double('{over}') "
        f"ELSE {m} * power(2, {e} - {f.man}) END AS FLOAT)"
    )


def _encode_sql(x: str, f: _Format) -> str:
    a = f"abs({x})"
    e, m = _binade(a, f)
    width = 1 + f.exp_bits + f.man
    code = f"({e} + {f.bias - 1}) * {2 ** f.man} + {m}"
    over = f.overflow.format(a=a)
    if f.inf:
        nan = f"isnan({x})"
        code = f"CASE WHEN {over} THEN {(2 ** f.exp_bits - 1) << f.man} ELSE {code} END"
    else:
        nan = over  # overflow and NaN share the unsigned NaN code
    # -0.0 is not < 0, but power(-0.0, -1) is -inf
    sign = f"CASE WHEN {x} < 0 OR power({x}, -1) < 0 THEN {2 ** (width - 1)} ELSE 0 END"
    int_type = "SMALLINT" if width == 16 else "TINYINT"
    return f"CAST(CASE WHEN {nan} THEN {f.nan_code} ELSE {code} - {sign} END AS {int_type})"


def _decode_sql(b: str, f: _Format) -> str:
    top = 2**f.exp_bits - 1
    exp = f"(shiftright({b}, {f.man}) & {top})"
    man = f"({b} & {2 ** f.man - 1})"
    value = (
        f"IF({exp} = 0, {man}, {man} + {2 ** f.man}) "
        f"* power(2, greatest({exp}, 1) - {f.bias + f.man})"
    )
    if f.inf:  # all-ones exponent: infinity or NaN
        special = f"{exp} = {top}", f"IF({man} = 0, double('Infinity'), double('NaN'))"
    else:  # E4M3FN: only S.1111.111 is NaN
        special = f"{exp} = {top} AND {man} = {2 ** f.man - 1}", "double('NaN')"
    # multiplying by -1 also gives -0.0 for the negative zero code
    return (
        f"CAST(CASE WHEN {special[0]} THEN {special[1]} ELSE {value} END "
        f"* IF({b} < 0, -1, 1) AS FLOAT)"
    )


def _codec_sql(sql: Callable[[str, _Format], str], fmt: str, col: str, vector: bool) -> str:
    """One codec over the column named ``col``, elementwise over an array
    column when ``vector`` (NULL rows and NULL elements stay NULL)."""
    x = quote_ident(col)
    f = _FORMATS[fmt]
    return f"transform({x}, v -> {sql('v', f)})" if vector else sql(x, f)


def _codec(sql: Callable[[str, _Format], str], fmt: str, col: str, vector: bool) -> Column:
    return F.expr(_codec_sql(sql, fmt, col, vector))


def fp16_roundtrip(col: str, vector: bool = False) -> Column:
    """float -> fp16 -> float32 of the column named ``col``."""
    return _codec(_roundtrip_sql, "FP16", col, vector)


def fp8e5m2_roundtrip(col: str, vector: bool = False) -> Column:
    return _codec(_roundtrip_sql, "FP8E5M2", col, vector)


def fp8e4m3_roundtrip(col: str, vector: bool = False) -> Column:
    return _codec(_roundtrip_sql, "FP8E4M3", col, vector)


def quantize_column(col: str, target: "DataType", vector: bool = False) -> Column:
    """Cast-on-read projection of the column named ``col`` to ``target``
    (P2). Floats round-trip through the narrow format; integer targets are
    plain casts (the reference only permits equal-or-lower precision;
    callers check via ``check_quantization_compat``)."""
    elem = target.element
    if elem.name in _FORMATS:
        return _codec(_roundtrip_sql, elem.name, col, vector)
    spark_t = target.spark_type
    if vector and not target.is_vector:
        spark_t = T.ArrayType(spark_t, containsNull=False)
    return F.col(col).cast(spark_t)

def check_quantization_compat(source: "DataType", target: "DataType") -> None:
    """Precision-rank compatibility (quantization_utils.go:70-102): projection
    must not increase precision, must stay in-kind (float->float, int->int),
    and vector-ness must match."""
    if source.is_vector != target.is_vector:
        raise ValueError(f"cannot project {source.value} as {target.value}: vector mismatch")
    s, t = source.element, target.element
    float_kind = {"FP64", "FP32", "FP16", "FP8E5M2", "FP8E4M3"}
    s_float = s.name in float_kind
    t_float = t.name in float_kind
    if s_float != t_float or s.precision_rank == 0 or t.precision_rank == 0:
        raise ValueError(f"incompatible quantization {source.value} -> {target.value}")
    if t.precision_rank > s.precision_rank:
        raise ValueError(
            f"quantization may not widen: {source.value} (rank {s.precision_rank}) "
            f"-> {target.value} (rank {t.precision_rank})"
        )


# --------------------------------------------------------------------------
# narrow STORAGE codecs: fp16 -> int16 bits, fp8 -> int8 code
# (SURVEY.md §4: the one genuinely custom physical piece — parquet has no
# fp16/fp8, so narrow floats store as SMALLINT/TINYINT bit patterns at 2x/4x
# density vs FLOAT, with encode/decode functions at the boundary.)
# --------------------------------------------------------------------------


def fp16_encode_np(x: np.ndarray) -> np.ndarray:
    """float -> IEEE-half bit pattern as int16 (storage form)."""
    with np.errstate(over="ignore"):
        return np.asarray(x, dtype=np.float64).astype(np.float16).view(np.int16)


def fp16_decode_np(bits: np.ndarray) -> np.ndarray:
    return np.asarray(bits, dtype=np.int16).view(np.float16).astype(np.float32)


def fp8e5m2_encode_np(x: np.ndarray) -> np.ndarray:
    """float -> E5M2 code byte as int8 (storage form): round via the fp16
    truncation then keep the high byte."""
    with np.errstate(over="ignore"):
        h = np.asarray(x, dtype=np.float64).astype(np.float16)
    u = h.view(np.uint16)
    rounded = (u.astype(np.uint32) + 0x7F + ((u >> 8) & 1)).astype(np.uint32)
    code = (rounded >> 8).astype(np.uint8)
    code = np.where(np.isnan(h), np.uint8(0x7F), code)  # canonical NaN
    return code.view(np.int8)


def fp8e5m2_decode_np(code: np.ndarray) -> np.ndarray:
    u = code.astype(np.int8).view(np.uint8).astype(np.uint16) << 8
    return u.view(np.float16).astype(np.float32)


def fp8e4m3_encode_np(x: np.ndarray) -> np.ndarray:
    """float -> E4M3FN code byte as int8 (storage form): sign bit | 7-bit
    codebook index, nearest-even; overflow/NaN -> canonical 0x7F (matching
    the reference's float8_e4m3.go overflow path)."""
    xf = np.asarray(x, dtype=np.float64)
    sign = np.signbit(xf)
    ax = np.abs(xf)
    nan = np.isnan(xf)
    idx = np.searchsorted(_E4M3_POS, ax, side="left").clip(0, _E4M3_NAN_IDX)
    lo_idx = np.maximum(idx - 1, 0)
    lo = _E4M3_POS[lo_idx]
    hi = _E4M3_POS[idx]
    dlo = ax - lo
    dhi = hi - ax
    take_lo = (dlo < dhi) | ((dlo == dhi) & (lo_idx % 2 == 0))
    near_idx = np.where(take_lo, lo_idx, idx)
    to_nan = nan | (ax >= _E4M3_POS[-1]) | (near_idx == _E4M3_NAN_IDX)
    code = (near_idx.astype(np.uint8) | (sign.astype(np.uint8) << 7)).astype(np.uint8)
    code = np.where(to_nan, np.uint8(0x7F), code)
    return code.view(np.int8)


def fp8e4m3_decode_np(code: np.ndarray) -> np.ndarray:
    u = np.asarray(code, dtype=np.int8).view(np.uint8)
    idx = (u & 0x7F).astype(np.int64)
    v = _E4M3_POS[idx]
    out = np.where((u >> 7) == 1, -v, v)
    out = np.where(idx == _E4M3_NAN_IDX, np.nan, out)
    return out.astype(np.float32)


def storage_encode(fmt: str, col: str, vector: bool = False) -> Column:
    """Storage form of the column named ``col`` in the narrow element type
    ``fmt`` ("FP16", "FP8E5M2", "FP8E4M3"): SMALLINT IEEE-half bits or the
    TINYINT fp8 code; NaN encodes to the canonical code."""
    return _codec(_encode_sql, fmt, col, vector)


def storage_decode(fmt: str, col: str, vector: bool = False) -> Column:
    """Inverse of storage_encode: the stored code back to float32."""
    return F.expr(storage_decode_sql(fmt, col, vector))


def storage_decode_sql(fmt: str, col: str, vector: bool = False) -> str:
    """SQL text of storage_decode, to compose into a larger expression."""
    return _codec_sql(_decode_sql, fmt, col, vector)


def fp16_encode(col: str) -> Column:
    """Storage form: SMALLINT holding the IEEE-half bit pattern."""
    return storage_encode("FP16", col)


def fp16_decode(col: str) -> Column:
    return storage_decode("FP16", col)


def fp8e5m2_encode(col: str) -> Column:
    """Storage form: TINYINT holding the E5M2 code."""
    return storage_encode("FP8E5M2", col)


def fp8e5m2_decode(col: str) -> Column:
    return storage_decode("FP8E5M2", col)
