from bharatmlstack_spark.functions.quantize import (
    fp16_roundtrip,
    fp8e5m2_roundtrip,
    fp8e4m3_roundtrip,
    quantize_column,
)
from bharatmlstack_spark.functions.vector import (
    dot,
    l2_norm,
    cosine_similarity,
    euclidean_distance,
)
from bharatmlstack_spark.functions.expressions import ExpressionEngine, rpn_to_column

__all__ = [
    "fp16_roundtrip",
    "fp8e5m2_roundtrip",
    "fp8e4m3_roundtrip",
    "quantize_column",
    "dot",
    "l2_norm",
    "cosine_similarity",
    "euclidean_distance",
    "ExpressionEngine",
    "rpn_to_column",
]
