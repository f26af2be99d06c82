"""Bind-time type resolution tables for lindel_spark.

Mirrors the reference's bind logic so return types are resolved at
DataFrame-construction (analysis) time exactly like DuckDB resolves
them at bind time:

* encode output-width ladder — reference src/lindel_extension.cpp:521-657
* integer decode mapping   — DECODE_TYPE_MAPPINGS, src/lindel_extension.cpp:64-97
* float decode rules       — src/lindel_extension.cpp:203-242
* 1-part decode returns the input width back — src/lindel_extension.cpp:244-253
* u8 input supports only 1 part — src/lindel_extension.cpp:255-259

Spark has no unsigned / 128-bit integral types, so (SURVEY §7.4):
* encode outputs: LongType for total width <= 64 (u64 carried as the
  two's-complement bit pattern; `output="binary"` gives the
  sort-faithful big-endian form at any width); BinaryType(16) for u128.
* decode "unsigned" outputs use the next wider signed Spark type
  (u8→Short, u16→Int, u32→Long, u64→Decimal(20,0)); signed outputs are
  the exact same-width Spark type (bit-cast two's complement, matching
  the reference's TINYINT..BIGINT outputs).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# element types
# ---------------------------------------------------------------------------

_ELEM_ALIASES = {
    "int8": "int8", "i8": "int8", "tinyint": "int8", "byte": "int8",
    "uint8": "int8", "utinyint": "int8",
    "int16": "int16", "i16": "int16", "smallint": "int16", "short": "int16",
    "uint16": "int16", "usmallint": "int16",
    "int32": "int32", "i32": "int32", "int": "int32", "integer": "int32",
    "uint32": "int32", "uinteger": "int32",
    "int64": "int64", "i64": "int64", "bigint": "int64", "long": "int64",
    "uint64": "int64", "ubigint": "int64",
    "float32": "float32", "f32": "float32", "float": "float32", "real": "float32",
    "float64": "float64", "f64": "float64", "double": "float64",
}

@dataclass(frozen=True)
class ElemType:
    name: str            # canonical: int8/int16/int32/int64/float32/float64
    bits: int
    is_float: bool
    spark_type: T.DataType


_ELEM_TYPES = {
    "int8": ElemType("int8", 8, False, T.ByteType()),
    "int16": ElemType("int16", 16, False, T.ShortType()),
    "int32": ElemType("int32", 32, False, T.IntegerType()),
    "int64": ElemType("int64", 64, False, T.LongType()),
    "float32": ElemType("float32", 32, True, T.FloatType()),
    "float64": ElemType("float64", 64, True, T.DoubleType()),
}

_SPARK_TO_ELEM = {
    T.ByteType(): "int8",
    T.ShortType(): "int16",
    T.IntegerType(): "int32",
    T.LongType(): "int64",
    T.FloatType(): "float32",
    T.DoubleType(): "float64",
}


def elem_type(name_or_type) -> ElemType:
    """Resolve an element-type spec (string alias or Spark DataType)."""
    if isinstance(name_or_type, T.DataType):
        key = _SPARK_TO_ELEM.get(name_or_type)
        if key is None:
            raise TypeError(
                f"LINDEL: unsupported element type {name_or_type}; expected "
                "TINYINT/SMALLINT/INTEGER/BIGINT/FLOAT/DOUBLE "
                "(reference bind error, src/lindel_extension.cpp:655-657)"
            )
        return _ELEM_TYPES[key]
    key = _ELEM_ALIASES.get(str(name_or_type).lower())
    if key is None:
        raise TypeError(f"LINDEL: unknown element type {name_or_type!r}")
    return _ELEM_TYPES[key]


# ---------------------------------------------------------------------------
# encode ladder (src/lindel_extension.cpp:521-657)
# ---------------------------------------------------------------------------

def encode_output_bits(elem_bits: int, n: int) -> int:
    """Total output width: elem_bits*n rounded up to a power of two, max 128."""
    if n < 1:
        raise ValueError("LINDEL: array must have at least one element")
    raw = elem_bits * n
    if raw > 128:
        max_n = 128 // elem_bits
        raise ValueError(
            f"LINDEL: {elem_bits}-bit elements support at most {max_n} "
            f"dimensions (got {n}); total width {raw} exceeds 128 bits "
            "(reference ladder, src/lindel_extension.cpp:521-657)"
        )
    out = 8
    while out < raw:
        out *= 2
    return out


def encode_output_spark_type(total_bits: int, output: str) -> T.DataType:
    """Spark carrier type for an encode result of ``total_bits`` width."""
    if output == "auto":
        output = "long" if total_bits <= 64 else "binary"
    if output == "long":
        if total_bits > 64:
            raise ValueError(
                f"LINDEL: {total_bits}-bit output does not fit LongType; "
                "use output='binary'"
            )
        return T.LongType()
    if output == "binary":
        return T.BinaryType()
    if output == "decimal":
        if total_bits > 64:
            # Output widths follow the u8->u128 ladder, so the only
            # width above 64 is exactly 128 — and max u128 ~ 3.4e38 >
            # 10^38-1: Decimal(38,0) silently overflows for the top
            # ~2/3 of that domain.
            raise ValueError(
                f"LINDEL: {total_bits}-bit output does not fit "
                "DecimalType(38,0) (u128 max ~3.4e38 > 10^38-1); "
                "use output='binary'"
            )
        return T.DecimalType(38, 0)
    raise ValueError(f"LINDEL: unknown output mode {output!r}")


# ---------------------------------------------------------------------------
# decode tables
# ---------------------------------------------------------------------------

# (input_width, nparts) -> output element width; DECODE_TYPE_MAPPINGS
# (src/lindel_extension.cpp:64-97).  Note the reference's deliberate
# gaps: u16 only 2 parts, u32 only 2-3 (no u32×4 even though encode
# supports i8[4]→u32).
_INT_DECODE = {
    (16, 2): 8,
    (32, 2): 16, (32, 3): 8,
    (64, 2): 32, (64, 3): 16, (64, 4): 16,
    (64, 5): 8, (64, 6): 8, (64, 7): 8, (64, 8): 8,
    (128, 2): 64, (128, 3): 32, (128, 4): 32,
    (128, 5): 16, (128, 6): 16, (128, 7): 16, (128, 8): 16,
    (128, 9): 8, (128, 10): 8, (128, 11): 8, (128, 12): 8,
    (128, 13): 8, (128, 14): 8, (128, 15): 8, (128, 16): 8,
}

_VALID_PARTS = {8: "1", 16: "2", 32: "2-3", 64: "2-8", 128: "2-16"}

_SIGNED_SPARK = {8: T.ByteType(), 16: T.ShortType(), 32: T.IntegerType(),
                 64: T.LongType()}
# unsigned values need headroom in Spark's signed types (SURVEY §7.4)
_UNSIGNED_SPARK = {8: T.ShortType(), 16: T.IntegerType(), 32: T.LongType(),
                   64: T.DecimalType(20, 0)}


@dataclass(frozen=True)
class DecodePlan:
    input_width: int          # 8/16/32/64/128
    nparts: int
    elem_bits: int            # width the curve math runs at
    want_float: bool
    want_unsigned: bool
    spark_elem: T.DataType    # element type of the returned array


def resolve_decode(input_width: int, nparts: int, want_float: bool,
                   want_unsigned: bool) -> DecodePlan:
    """Replicates lindelDecodeToArrayBind (src/lindel_extension.cpp:152-274)."""
    if input_width not in (8, 16, 32, 64, 128):
        raise ValueError(f"LINDEL: invalid decode input width {input_width}")
    if nparts <= 0:
        raise ValueError(
            "Number of parts to return must be greater than 0."
        )  # src/lindel_extension.cpp:189-192
    if want_float:
        # src/lindel_extension.cpp:203-242
        if input_width == 32 and nparts == 1:
            return DecodePlan(32, 1, 32, True, False, T.FloatType())
        if input_width == 64 and nparts == 1:
            return DecodePlan(64, 1, 64, True, False, T.DoubleType())
        if input_width == 64 and nparts == 2:
            return DecodePlan(64, 2, 32, True, False, T.FloatType())
        if input_width == 128 and nparts == 2:
            return DecodePlan(128, 2, 64, True, False, T.DoubleType())
        if input_width == 128 and nparts in (3, 4):
            return DecodePlan(128, nparts, 32, True, False, T.FloatType())
        raise ValueError(
            f"LINDEL: no float decode for u{input_width} into {nparts} parts "
            "(reference rules, src/lindel_extension.cpp:203-242)"
        )
    if nparts == 1:
        # same width back (src/lindel_extension.cpp:244-253); u128 1-part
        # has no Spark integral carrier -> 16-byte big-endian binary,
        # the only faithful u128 form (Decimal(38,0) overflows above
        # 10^38-1, ~1/3 of the u128 domain).
        if input_width == 128:
            return DecodePlan(128, 1, 128, False, want_unsigned,
                              T.BinaryType())
        spark = (_UNSIGNED_SPARK if want_unsigned else _SIGNED_SPARK)[input_width]
        return DecodePlan(input_width, 1, input_width, False, want_unsigned, spark)
    if input_width == 8:
        raise ValueError("Expected 1 parts for UTINYINT")
    elem_bits = _INT_DECODE.get((input_width, nparts))
    if elem_bits is None:
        raise ValueError(
            f"Expected {_VALID_PARTS[input_width]} parts for u{input_width}"
        )
    spark = (_UNSIGNED_SPARK if want_unsigned else _SIGNED_SPARK)[elem_bits]
    return DecodePlan(input_width, nparts, elem_bits, False, want_unsigned, spark)
