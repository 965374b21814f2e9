"""The Spark fp16 / E5M2 / E4M3FN codecs (Catalyst expressions) against
the numpy cores, bit for bit: round-trip, storage encode and decode, in
scalar and vector form. Inputs cover every kind of rounding tie,
subnormals, ±0, the overflow boundaries of each format, ±inf, NaN, float32
as well as float64 columns, NULL rows and NULL vector elements.

NaN inputs are the canonical (positive) NaN: SQL cannot read the sign or
payload of a NaN, so the Spark encoders write the canonical NaN code."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bharatmlstack_spark.functions import quantize as Q

FORMATS = ("FP16", "FP8E5M2", "FP8E4M3")
NUMPY = {
    "FP16": (Q.fp16_roundtrip_np, Q.fp16_encode_np, Q.fp16_decode_np, np.int16),
    "FP8E5M2": (Q.fp8e5m2_roundtrip_np, Q.fp8e5m2_encode_np, Q.fp8e5m2_decode_np, np.int8),
    "FP8E4M3": (Q.fp8e4m3_roundtrip_np, Q.fp8e4m3_encode_np, Q.fp8e4m3_decode_np, np.int8),
}
ROUNDTRIP = {
    "FP16": Q.fp16_roundtrip,
    "FP8E5M2": Q.fp8e5m2_roundtrip,
    "FP8E4M3": Q.fp8e4m3_roundtrip,
}
VEC = 7


def _inputs() -> np.ndarray:
    rng = np.random.default_rng(20261017)
    # odd multiples of half a quantum: exact ties at every scale from
    # below fp16's subnormal quantum (2^-24) to above its range
    ties = [(np.arange(-64, 64) + 0.5) * 2.0**k for k in range(-27, 17, 2)]
    halves = np.frombuffer(
        rng.integers(0, 2**16, 1500, dtype=np.uint16).tobytes(), np.float16
    ).astype(np.float64)
    edges = np.array([
        0.0, np.inf, np.nan, 1e-300, 1e300,
        65504, 65519.99, 65520, 65536,  # fp16 max, last below / at the tie, 2^16
        57344, 61423.99, 61424, 61440,  # E5M2 max and its double-rounding tie
        448, 464, 464.0001, 480,  # E4M3FN max, tie to even, NaN slot
        2**-14, 2**-24, 2**-25, 3 * 2**-26, 2**-16, 2**-17, 2**-6, 2**-9, 2**-10,
    ])
    wide = rng.standard_normal(1500) * 10.0 ** rng.integers(-9, 6, 1500)
    x = np.concatenate([*ties, halves, edges, -edges, wide])
    with np.errstate(invalid="ignore"):  # nextafter(nan)
        x = np.concatenate([x, np.nextafter(x, np.inf), np.nextafter(x, -np.inf)])
    return np.where(np.isnan(x), np.nan, x)  # canonical NaN, see module doc


def _assert_same_floats(got: list, want: np.ndarray) -> None:
    """float32 bit equality (so -0.0 != 0.0), NaN == NaN, None == NULL."""
    assert len(got) == len(want)
    nulls = np.array([g is None for g in got])
    g = np.array([np.nan if v is None else v for v in got], np.float32)
    w = np.asarray(want, np.float32)
    same = (g.view(np.uint32) == w.view(np.uint32)) | (np.isnan(g) & np.isnan(w))
    bad = np.flatnonzero(~same & ~nulls)
    assert bad.size == 0, list(zip(g[bad][:5], w[bad][:5]))


@pytest.fixture(scope="module")
def scalars(spark):
    x = _inputs()
    rows = [(i, float(v)) for i, v in enumerate(x)] + [(len(x), None)]
    df = spark.createDataFrame(rows, "i int, x double")
    with np.errstate(over="ignore"):
        x32 = x.astype(np.float32).astype(np.float64)
    return x, x32, df.withColumn("f", F.col("x").cast("float"))


@pytest.mark.parametrize("fmt", FORMATS)
def test_scalar_codecs_match_numpy(scalars, fmt):
    x, x32, df = scalars
    roundtrip, encode, _decode, _ = NUMPY[fmt]
    rows = (
        df.select(
            "i",
            ROUNDTRIP[fmt]("x").alias("rt"),
            ROUNDTRIP[fmt]("f").alias("rt32"),
            Q.storage_encode(fmt, "x").alias("code"),
            Q.storage_encode(fmt, "f").alias("code32"),
        )
        .orderBy("i")
        .collect()
    )
    *rows, null_row = rows
    assert null_row[1:] == (None, None, None, None)
    _assert_same_floats([r.rt for r in rows], roundtrip(x))
    _assert_same_floats([r.rt32 for r in rows], roundtrip(x32))
    np.testing.assert_array_equal([r.code for r in rows], encode(x))
    np.testing.assert_array_equal([r.code32 for r in rows], encode(x32))


@pytest.mark.parametrize("fmt", FORMATS)
def test_decode_matches_numpy_on_every_code(spark, fmt):
    _roundtrip, _encode, decode, int_t = NUMPY[fmt]
    info = np.iinfo(int_t)
    codes = spark.range(info.min, info.max + 1).select(
        F.col("id").cast("smallint" if int_t is np.int16 else "tinyint").alias("c")
    )
    got = [r[0] for r in codes.select(Q.storage_decode(fmt, "c")).collect()]
    _assert_same_floats(got, decode(np.arange(info.min, info.max + 1).astype(int_t)))


@pytest.mark.parametrize("fmt", FORMATS)
def test_vector_codecs_match_numpy(spark, fmt):
    roundtrip, encode, _decode, _ = NUMPY[fmt]
    x = _inputs()[::3]
    vecs = [[float(v) for v in x[i : i + VEC]] for i in range(0, len(x), VEC)]
    for v in vecs[::5]:
        v[len(v) // 2] = None  # NULL elements stay NULL
    rows = [(i, v) for i, v in enumerate(vecs)] + [(len(vecs), None)]
    df = spark.createDataFrame(rows, "i int, v array<double>")
    out = (
        df.select(
            "i",
            ROUNDTRIP[fmt]("v", vector=True).alias("rt"),
            Q.storage_encode(fmt, "v", vector=True).alias("code"),
        )
        .withColumn("back", Q.storage_decode(fmt, "code", vector=True))
        .orderBy("i")
        .collect()
    )
    *out, null_row = out
    assert null_row[1:] == (None, None, None)
    flat = np.array([np.nan if v is None else v for vec in vecs for v in vec])
    holes = np.array([v is None for vec in vecs for v in vec])
    # "back" is decode(encode(v)), which must equal the round-trip
    for name, want in (("rt", roundtrip(flat)), ("back", roundtrip(flat))):
        got = [g for r in out for g in r[name]]
        assert [g is None for g in got] == holes.tolist()
        _assert_same_floats(got, want)
    codes = [c for r in out for c in r.code]
    assert [c is None for c in codes] == holes.tolist()
    np.testing.assert_array_equal(
        [c for c, h in zip(codes, holes) if not h], encode(flat[~holes])
    )
