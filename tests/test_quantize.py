"""Quantization codecs pinned to the reference's own test vectors
(pkg/float8/float8_e5m2_test.go, float8_e4m3_test.go)."""

import math

import numpy as np
import pytest

from bharatmlstack_spark.functions.quantize import (
    _E4M3_POS,
    check_quantization_compat,
    fp16_roundtrip_np,
    fp8e4m3_roundtrip_np,
    fp8e5m2_roundtrip_np,
)
from bharatmlstack_spark.registry import DataType


def test_fp16_roundtrip_exact_values():
    x = np.array([0.0, 1.0, 0.5, 65504.0, -2.5, 1e-8])
    out = fp16_roundtrip_np(x)
    assert out[0] == 0 and out[1] == 1 and out[2] == 0.5
    assert out[3] == 65504.0  # fp16 max survives
    assert out[4] == -2.5
    assert abs(out[5]) < 1e-7  # subnormal territory


# encode vectors from float8_e5m2_test.go:33-47 (value -> decoded code value)
E5M2_VECTORS = [
    (0.0039537125, 0.00390625),  # code 28
    (57344.0, 57344.0),  # max normal, code 123
    (6.1035156e-05, 6.1035156e-05),  # min normal, code 4
    (100000.0, math.inf),  # overflow -> inf, code 124
    (0.0, 0.0),
    (4.57763671875e-05, 4.5776367e-05),  # max subnormal, code 3
    (1.52587890625e-05, 1.5258789e-05),  # min subnormal, code 1
    (0.0000012207031, 0.0),  # underflow -> 0
]


@pytest.mark.parametrize("val,expected", E5M2_VECTORS)
def test_fp8e5m2_reference_vectors(val, expected):
    out = float(fp8e5m2_roundtrip_np(np.array([val]))[0])
    assert out == pytest.approx(np.float32(expected), rel=1e-6), (val, out, expected)


def test_fp8e5m2_negative_and_nan():
    out = fp8e5m2_roundtrip_np(np.array([-0.0039537125, np.nan, -np.inf]))
    assert float(out[0]) == pytest.approx(-0.00390625)
    assert math.isnan(out[1])
    assert out[2] == -math.inf


# encode vectors from float8_e4m3_test.go:34-48
E4M3_VECTORS = [
    (0.0039537125, 0.00390625),  # code 2
    (448.0, 448.0),  # max normal, code 126
    (0.015625, 0.015625),  # min normal, code 8
    (5000.0, math.nan),  # overflow -> NaN (FN), code 127
    (0.0, 0.0),
    (0.013671875, 0.013671875),  # max subnormal, code 7
    (0.001953125, 0.001953125),  # min subnormal, code 1
    (0.0001953125, 0.0),  # underflow -> 0 (rounds to nearest = 0)
]


@pytest.mark.parametrize("val,expected", E4M3_VECTORS)
def test_fp8e4m3_reference_vectors(val, expected):
    out = float(fp8e4m3_roundtrip_np(np.array([val]))[0])
    if math.isnan(expected):
        assert math.isnan(out)
    else:
        assert out == pytest.approx(np.float32(expected), rel=1e-6), (val, out, expected)


def test_fp8e4m3_decode_table_is_idempotent():
    """Every representable finite E4M3 value round-trips to itself
    (decode table float8_e4m3_test.go:16 — codes 0..126)."""
    finite = _E4M3_POS[:-1]
    out = fp8e4m3_roundtrip_np(finite)
    np.testing.assert_array_equal(out, finite.astype(np.float32))
    neg = fp8e4m3_roundtrip_np(-finite)
    np.testing.assert_array_equal(neg, (-finite).astype(np.float32))


def test_fp8e4m3_overflow_boundary():
    """[448, 464) -> 448; >= 464 -> NaN (tie at 464 goes to even mantissa
    448, matching the bit-trick rounding in float8_e4m3.go:40-45)."""
    out = fp8e4m3_roundtrip_np(np.array([448.0, 460.0, 464.0, 465.0, 479.0, 480.0]))
    assert out[0] == 448.0 and out[1] == 448.0 and out[2] == 448.0
    assert math.isnan(out[3]) and math.isnan(out[4]) and math.isnan(out[5])


def test_fp8e5m2_monotone_grid():
    """Round-trip is monotone non-decreasing (quantization property)."""
    x = np.linspace(-60000, 60000, 20001)
    out = fp8e5m2_roundtrip_np(x)
    assert np.all(np.diff(out) >= 0)


def test_fp8e4m3_monotone_grid():
    x = np.linspace(-448, 448, 20001)
    out = fp8e4m3_roundtrip_np(x)
    assert np.all(np.diff(out) >= 0)


def test_compat_matrix():
    """quantization_utils.go:70-102: only equal-or-lower precision, same
    kind, same vector-ness."""
    check_quantization_compat(DataType.FP32, DataType.FP16)
    check_quantization_compat(DataType.FP64, DataType.FP8E5M2)
    check_quantization_compat(DataType.FP32_VECTOR, DataType.FP16_VECTOR)
    check_quantization_compat(DataType.INT64, DataType.INT32)
    with pytest.raises(ValueError):
        check_quantization_compat(DataType.FP16, DataType.FP32)  # widen
    with pytest.raises(ValueError):
        check_quantization_compat(DataType.FP32, DataType.INT32)  # cross-kind
    with pytest.raises(ValueError):
        check_quantization_compat(DataType.FP32, DataType.FP16_VECTOR)  # vec mismatch
    with pytest.raises(ValueError):
        check_quantization_compat(DataType.STRING, DataType.STRING)  # non-numeric


def test_spark_quantize_udfs(spark):
    import pandas as pd

    from bharatmlstack_spark.functions.quantize import fp16_roundtrip, fp8e5m2_roundtrip

    df = spark.createDataFrame(
        pd.DataFrame({"x": [0.1, 1.0, 3.14159, 57344.0]}),
    )
    rows = df.select(
        fp16_roundtrip("x").alias("h"), fp8e5m2_roundtrip("x").alias("e")
    ).collect()
    assert rows[1]["h"] == 1.0 and rows[1]["e"] == 1.0
    assert rows[2]["h"] == pytest.approx(3.140625, abs=1e-6)  # fp16(3.14159)
    assert rows[3]["e"] == 57344.0


def test_spark_quantize_vector_udf(spark):
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    from bharatmlstack_spark.functions.quantize import fp16_roundtrip

    schema = StructType([StructField("v", ArrayType(DoubleType()), True)])
    df = spark.createDataFrame([([0.1, 1.0, 2.5],), (None,)], schema)
    rows = df.select(fp16_roundtrip("v", vector=True).alias("q")).collect()
    assert rows[0]["q"][1] == 1.0 and rows[0]["q"][2] == 2.5
    assert rows[1]["q"] is None


def test_fp16_storage_codec_numpy():
    """Narrow storage: fp16 bits in int16, exact round-trip for half-
    representable values."""
    from bharatmlstack_spark.functions.quantize import fp16_decode_np, fp16_encode_np

    x = np.array([0.0, 1.0, -2.5, 65504.0, 0.1])
    bits = fp16_encode_np(x)
    assert bits.dtype == np.int16
    back = fp16_decode_np(bits)
    np.testing.assert_array_equal(back, x.astype(np.float16).astype(np.float32))


def test_fp8e5m2_storage_codec_numpy():
    from bharatmlstack_spark.functions.quantize import (
        fp8e5m2_decode_np,
        fp8e5m2_encode_np,
        fp8e5m2_roundtrip_np,
    )

    x = np.linspace(-100, 100, 999)
    code = fp8e5m2_encode_np(x)
    assert code.dtype == np.int8
    back = fp8e5m2_decode_np(code)
    np.testing.assert_array_equal(back, fp8e5m2_roundtrip_np(x))


def test_storage_codec_through_parquet(spark, tmp_path):
    """fp16 values survive a SMALLINT parquet round-trip bit-exactly and
    the stored column is 2 bytes wide (the §4 narrow-storage piece)."""
    from pyspark.sql import functions as F

    from bharatmlstack_spark.functions.quantize import fp16_decode, fp16_encode

    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") / 7.0).cast("double").alias("x")
    )
    path = str(tmp_path / "narrow")
    df.select("id", fp16_encode("x").alias("x_fp16")).write.parquet(path)
    loaded = spark.read.parquet(path)
    assert dict(loaded.dtypes)["x_fp16"] == "smallint"
    back = loaded.select("id", fp16_decode("x_fp16").alias("x"))
    raw = {r["id"]: r["x"] for r in back.collect()}
    import numpy as nperr  # noqa: F401  (keep numpy import local pattern consistent)
    for r in df.collect():
        assert raw[r["id"]] == np.float32(np.float16(r["x"]))
