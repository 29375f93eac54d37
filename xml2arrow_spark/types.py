"""The reference's 12-primitive type system mapped onto Spark SQL.

xml2arrow declares exactly twelve primitive types and maps each to an Arrow
type (``DType`` / ``as_arrow_type``, /root/reference/src/config.rs:526-559).
Spark SQL has no unsigned integer types, so the unsigned widths WIDEN to the
next signed type that holds their full range (SURVEY §1.3):

    UInt8  -> ShortType      (0..255      ⊂ int16)
    UInt16 -> IntegerType    (0..65535    ⊂ int32)
    UInt32 -> LongType       (0..2^32-1   ⊂ int64)
    UInt64 -> DecimalType(20,0)  (0..2^64-1 exceeds int64)

Round-trip consequence: an unsigned column encoded through the engine
decodes to its widened Spark type with the ORIGINAL values intact — the
no-silent-truncation contract extends to width mapping. The codecs
themselves need no unsigned support: FOR/bit-pack already operate on
non-negative deltas of the widened signed values.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

from xml2arrow_spark.errors import ManifestError

__all__ = ["DTYPES", "spark_type_for", "widened_struct"]

# reference DType -> (Spark SQL type, Arrow storage type actually used)
DTYPES: dict[str, tuple[T.DataType, pa.DataType]] = {
    "Boolean": (T.BooleanType(), pa.bool_()),
    "Int8": (T.ByteType(), pa.int8()),
    "UInt8": (T.ShortType(), pa.int16()),
    "Int16": (T.ShortType(), pa.int16()),
    "UInt16": (T.IntegerType(), pa.int32()),
    "Int32": (T.IntegerType(), pa.int32()),
    "UInt32": (T.LongType(), pa.int64()),
    "Int64": (T.LongType(), pa.int64()),
    "UInt64": (T.DecimalType(20, 0), pa.decimal128(20, 0)),
    "Float32": (T.FloatType(), pa.float32()),
    "Float64": (T.DoubleType(), pa.float64()),
    "Utf8": (T.StringType(), pa.string()),
}

# value range of each reference dtype (min, max), None = not integral
RANGES: dict[str, tuple[int, int] | None] = {
    "Boolean": None,
    "Int8": (-(2**7), 2**7 - 1),
    "UInt8": (0, 2**8 - 1),
    "Int16": (-(2**15), 2**15 - 1),
    "UInt16": (0, 2**16 - 1),
    "Int32": (-(2**31), 2**31 - 1),
    "UInt32": (0, 2**32 - 1),
    "Int64": (-(2**63), 2**63 - 1),
    "UInt64": (0, 2**64 - 1),
    "Float32": None,
    "Float64": None,
    "Utf8": None,
}


def spark_type_for(dtype: str) -> T.DataType:
    """Widened Spark SQL type for a reference ``DType`` name."""
    try:
        return DTYPES[dtype][0]
    except KeyError:
        raise ManifestError(
            f"unknown dtype {dtype!r}; reference types: {sorted(DTYPES)}"
        ) from None


def widened_struct(fields: dict[str, str], nullable: bool = True) -> T.StructType:
    """StructType for a {column: reference-DType} declaration — the engine's
    version of the reference's declared (never inferred) schema
    (/root/reference/src/config.rs:360-382)."""
    return T.StructType(
        [T.StructField(name, spark_type_for(dt), nullable) for name, dt in fields.items()]
    )
