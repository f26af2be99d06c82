"""The four lindel SQL functions as Spark Column factories.

hilbert_encode / morton_encode / hilbert_decode / morton_decode —
reference registration surface: src/lindel_extension.cpp:948-1026.

Design (SURVEY §3.1): the Python wrapper does DuckDB-style *bind* work
at DataFrame-construction time — element type + arity resolve the
output Spark type from the ladder in :mod:`lindel_spark.types` — and
execution is one JVM UDF per direction (``lindel_spark/Curves.java``,
built and loaded by :mod:`lindel_spark.jvm`), called per row inside the
executor like the reference's per-row Rust FFI calls
(src/lindel_extension.cpp:708,735,771): no batch leaves the JVM.  Both
encode call forms (an array column, a list of scalar columns) and the
SQL names from :func:`register` feed the same encode UDF one
``array<elem>`` column.  Each curve Column is built by one py4j call to
a factory in ``Curves.java``, which applies the casts and ``array()``
in the JVM and reuses one UDF instance per configuration.
:mod:`lindel_spark.curve` is the NumPy reference the tests hold these
kernels to, bit for bit.

Morton (both directions) additionally has a pure-Column "native" path
for integer inputs with total width <= 64 bits: staged magic-number
bit spreading that whole-stage codegen compiles into the scan's stage,
with no UDF call and no boxing.

NULL semantics (reference src/lindel_extension.cpp:684-694, 437-441):
NULL array/input -> NULL result; NULL *element* inside an array ->
error "Lindel functions cannot handle arrays containing NULL values".
The list-of-columns form maps a NULL in any input column to a NULL key;
that rule is a flag of its encode UDF, not a Column guard.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lindel_spark import jvm
from lindel_spark.types import (
    DecodePlan,
    elem_type,
    encode_output_bits,
    encode_output_spark_type,
    resolve_decode,
)


# ---------------------------------------------------------------------------
# the JVM UDFs (lindel_spark/Curves.java)
# ---------------------------------------------------------------------------

def _jcol(c):
    """A column name as itself, a Column as its JVM Column."""
    if isinstance(c, Column):
        return c._jc
    if isinstance(c, str):
        return c
    raise TypeError(f"LINDEL: expected a column name or Column, got {c!r}")


def _encode_output_mode(ret_type: T.DataType) -> str:
    return {T.LongType(): "long", T.BinaryType(): "binary"}.get(
        ret_type, "decimal")


def _decode_output_mode(plan: DecodePlan) -> str:
    if plan.want_float:
        return "float"
    return "unsigned" if plan.want_unsigned else "signed"


def _decode_type(plan: DecodePlan) -> T.DataType:
    return T.ArrayType(plan.spark_elem, containsNull=False)


def _infer_elem(df, arr) -> str:
    """Element type from ``df.schema`` — the PySpark equivalent of the
    reference's bind-time type derivation (the bound argument's element
    type, src/lindel_extension.cpp:516-519). Only *named* columns can
    be looked up in a schema; expressions still need an explicit
    ``elem=``.
    """
    if isinstance(arr, (list, tuple)):
        names = [c for c in arr if isinstance(c, str)]
        if len(names) != len(arr):
            raise ValueError(
                "LINDEL: elem inference needs plain column names; pass "
                "elem= for column expressions"
            )
        ets = [elem_type(df.schema[c].dataType) for c in names]
        if len({e.name for e in ets}) != 1:
            raise TypeError(
                "LINDEL: input columns have mixed element types "
                f"({sorted({e.name for e in ets})}); pass elem= to pick "
                "the encode width explicitly"
            )
        return ets[0].name
    if not isinstance(arr, str):
        raise ValueError(
            "LINDEL: elem inference needs a plain column name; pass "
            "elem= for column expressions"
        )
    dt = df.schema[arr].dataType
    if not isinstance(dt, T.ArrayType):
        raise TypeError(
            f"LINDEL: column {arr!r} is {dt.simpleString()}, expected an "
            "array column (or pass a list of scalar columns)"
        )
    return elem_type(dt.elementType).name


def _resolve_elem(arr, elem, df):
    if elem is not None:
        return elem
    if df is None:
        raise ValueError(
            "LINDEL: pass elem= (element type) or df= (a DataFrame whose "
            "schema to infer it from, reference bind-time semantics)"
        )
    return _infer_elem(df, arr)


def _encode(kind: str, arr, elem, n, output):
    """Both call forms become one ``array<elem>`` column for the one
    encode UDF, built by one call to ``Curves.encode``.  The Spark cast
    to ``elem`` runs first, so an out-of-range input raises
    ``CAST_OVERFLOW`` (ANSI) instead of wrapping in the kernel.  The
    list form's NULL rule is the UDF's: a NULL element gives a NULL
    key there, where the array form raises."""
    et = elem_type(elem)
    if isinstance(arr, (list, tuple)):
        n = len(arr)
        arg = [_jcol(c) for c in arr]
    else:
        if n is None:
            raise ValueError(
                "LINDEL: pass n= (array length) when encoding an array "
                "column; Spark arrays carry no bind-time length (SURVEY §7.4)"
            )
        arg = _jcol(arr)
    ret_type = encode_output_spark_type(encode_output_bits(et.bits, n), output)
    return Column(jvm.curves().encode(
        kind, et.bits, n, _encode_output_mode(ret_type), ret_type.json(),
        et.spark_type.simpleString(), arg))


def hilbert_encode(arr, elem: str | None = "int32", n: int | None = None,
                   output: str = "auto", df=None) -> Column:
    """Hilbert-curve index of an N-dimensional point.

    ``arr`` is an array Column (pass ``n``) or a list of scalar Columns.
    ``elem`` names the element width/kind (int8/int16/int32/int64/
    float32/float64 and SQL aliases); floats and signed ints are
    *bit-cast* (reference semantics, src/lindel_extension.cpp:735-752).
    Pass ``elem=None`` with ``df=`` to infer the element type from the
    DataFrame's schema (the reference derives it from the bound input
    type at bind time, src/lindel_extension.cpp:516-519); an explicit
    ``elem`` always wins.
    ``output``: auto|long|binary|decimal — long for total width <= 64,
    big-endian binary (unsigned sort order) otherwise.

    NULL handling differs by call form: the array-column form raises on
    NULL *elements* (reference semantics,
    src/lindel_extension.cpp:690-694), while the list-of-scalar-columns
    form follows SQL scalar-function null propagation — a NULL in any
    input column yields a NULL key for that row. Multi-column relational
    inputs have no "array with a hole" to reject; the row is simply
    incomplete. A NULL array (as opposed to a NULL element) maps to a
    NULL key in both forms.

    Reference: hilbert_encode, src/lindel_extension.cpp:495-660,950-967.
    """
    return _encode("hilbert", arr, _resolve_elem(arr, elem, df), n, output)


def morton_encode(arr, elem: str | None = "int32", n: int | None = None,
                  output: str = "auto", df=None) -> Column:
    """Morton (Z-order) index — MSB-first bit-interleave; element 0 is
    most significant.  Same signature as :func:`hilbert_encode`
    (including ``elem=None`` + ``df=`` schema inference).

    Reference: morton_encode, src/lindel_extension.cpp:498-510,969-978.
    Note: for integer inputs with total width <= 64,
    :func:`morton_encode_native` builds the same key from Spark's own
    bit operators, compiled into the stage by whole-stage codegen with
    no UDF call and no boxing of the inputs.  It stays the cheaper
    path: on 4M int32 pairs (``scripts/curve_cost_probe.py``,
    ``local[4]``) it costs ~10–30 ns per row per core above the
    scan, this UDF ~85–120 ns, most of it the UDF boundary.  As with
    :func:`hilbert_encode`, the list form gives a NULL key where any
    input is NULL, and the array form raises on a NULL element.
    """
    return _encode("morton", arr, _resolve_elem(arr, elem, df), n, output)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def _decode(kind: str, col, nparts: int, want_float: bool, want_unsigned: bool,
            input_width: int | None, binary_input: bool | None):
    if input_width is None:
        # The reference derives the width from the input's unsigned type
        # (src/lindel_extension.cpp:983-1001); Spark carries every width
        # in LongType/BinaryType, so a default would silently mis-decode
        # (e.g. a u32 key decoded as u64). Require it.
        raise ValueError(
            "LINDEL: pass input_width= (8/16/32/64/128) — the unsigned "
            "width the value was encoded at; Spark's carrier types do "
            "not determine it"
        )
    plan = resolve_decode(input_width, nparts, want_float, want_unsigned)
    if binary_input is None:
        binary_input = input_width == 128
    return Column(jvm.curves().decode(
        kind, plan.elem_bits, nparts, _decode_output_mode(plan),
        _decode_type(plan).json(), "binary" if binary_input else "bigint",
        _jcol(col)))


def hilbert_decode(col, nparts: int, want_float: bool = False,
                   want_unsigned: bool = False, input_width: int | None = None,
                   binary_input: bool | None = None) -> Column:
    """Inverse of :func:`hilbert_encode`.

    ``nparts``/flags are plain Python args — inherently constant,
    matching the reference's constant-foldability requirement
    (src/lindel_extension.cpp:171-187).  ``input_width`` is the
    unsigned width of the encoded value (8/16/32/64/128) and is
    **required** — the reference derives it from its unsigned input
    types, which Spark lacks; pass ``binary_input=True`` when ``col``
    is the big-endian BinaryType form (default for width 128).

    Reference: hilbert_decode, src/lindel_extension.cpp:152-274,457-490.
    """
    return _decode("hilbert", col, nparts, want_float, want_unsigned,
                   input_width, binary_input)


def morton_decode(col, nparts: int, want_float: bool = False,
                  want_unsigned: bool = False, input_width: int | None = None,
                  binary_input: bool | None = None) -> Column:
    """Inverse of :func:`morton_encode` (bit de-interleave).

    Reference: morton_decode, src/lindel_extension.cpp:997-1023.
    """
    return _decode("morton", col, nparts, want_float, want_unsigned,
                   input_width, binary_input)


# ---------------------------------------------------------------------------
# Morton native-Column fast path (whole-stage codegen, no Python)
# ---------------------------------------------------------------------------

_MAGIC2 = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _to_unsigned_long(c: Column, bits: int) -> Column:
    u = c.cast(T.LongType())
    if bits < 64:
        u = u.bitwiseAND(F.lit((1 << bits) - 1))
    return u


def _spread2(u: Column, bits: int) -> Column:
    """Spread the low ``bits`` bits of u to even positions (stride 2)."""
    x = u
    for shift, mask in _MAGIC2:
        if shift >= bits:
            continue
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def _compact2(v: Column, bits: int) -> Column:
    """Inverse of _spread2: gather even-position bits into the low half."""
    x = v.bitwiseAND(F.lit(0x5555555555555555))
    for shift, mask in [
        (1, 0x3333333333333333),
        (2, 0x0F0F0F0F0F0F0F0F),
        (4, 0x00FF00FF00FF00FF),
        (8, 0x0000FFFF0000FFFF),
        (16, 0x00000000FFFFFFFF),
    ]:
        if shift >= bits * 2:
            break
        x = (x.bitwiseOR(F.shiftrightunsigned(x, shift))).bitwiseAND(F.lit(mask))
    return x


def morton_encode_native(cols: Sequence, elem: str | None = "int32",
                         df=None) -> Column:
    """Pure-Column Morton encode for integer inputs, total width <= 64.

    Generates staged shift-or bit spreading that runs entirely inside
    JVM whole-stage codegen — the scale path for z-order writes (no
    UDF call).  Bit-identical to :func:`morton_encode`.
    ``elem=None`` + ``df=`` infers the element type from the schema.
    """
    et = elem_type(_resolve_elem(cols, elem, df))
    if et.is_float:
        raise ValueError(
            "LINDEL: native morton path is integer-only (floats need a "
            "bit-cast Spark lacks); use morton_encode()"
        )
    cols = [c if isinstance(c, Column) else F.col(c) for c in cols]
    n = len(cols)
    total = encode_output_bits(et.bits, n)
    if total > 64:
        raise ValueError(
            f"LINDEL: native morton limited to 64-bit outputs "
            f"(got {et.bits}x{n}={et.bits * n}); use morton_encode(output='binary')"
        )
    us = [_to_unsigned_long(c, et.bits) for c in cols]
    return _interleave_native(us, et.bits, n)


def _interleave_native(us: list, bits: int, n: int) -> Column:
    """MSB-first bit-interleave of unsigned-in-long Columns (pure Column)."""
    if n == 1:
        return us[0]
    if n == 2:
        # element 0 most significant within each bit pair
        return F.shiftleft(_spread2(us[0], bits), 1).bitwiseOR(
            _spread2(us[1], bits)
        )
    # generic n: one OR-term per (coordinate, bit)
    result = F.lit(0).cast(T.LongType())
    for i, u in enumerate(us):
        for b in range(bits):
            p = b * n + (n - 1 - i)
            bit = F.shiftrightunsigned(u, b).bitwiseAND(F.lit(1))
            result = result.bitwiseOR(F.shiftleft(bit, p))
    return result


def morton_decode_native(col: Column, nparts: int, elem="int32",
                         signed: bool = True) -> Column:
    """Pure-Column Morton decode (inverse of morton_encode_native).

    Returns ``array<long>`` of the ``nparts`` coordinates; with
    ``signed=True`` values are two's-complement re-signed at the
    element width (matching want_unsigned=false decode).
    """
    et = elem_type(elem)
    if et.is_float:
        raise ValueError("LINDEL: native morton decode is integer-only")
    if encode_output_bits(et.bits, nparts) > 64:
        raise ValueError(
            f"LINDEL: native morton limited to 64-bit inputs "
            f"(got {et.bits}x{nparts}={et.bits * nparts}); use morton_decode()"
        )
    col = col if isinstance(col, Column) else F.col(col)
    n = nparts
    bits = et.bits

    def resign(x: Column) -> Column:
        if not signed or bits == 64:
            return x
        half = 1 << (bits - 1)
        return F.when(x >= F.lit(half), x - F.lit(1 << bits)).otherwise(x)

    coords = _deinterleave_native(col, n, bits)
    return F.array(*[resign(x) for x in coords])


def _deinterleave_native(col: Column, n: int, bits: int) -> list:
    """Inverse of :func:`_interleave_native` → unsigned-in-long Columns."""
    coords = []
    for i in range(n):
        if n == 1:
            x = col
        elif n == 2:
            x = _compact2(F.shiftrightunsigned(col, n - 1 - i), bits)
        else:
            x = F.lit(0).cast(T.LongType())
            for b in range(bits):
                p = b * n + (n - 1 - i)
                bit = F.shiftrightunsigned(col, p).bitwiseAND(F.lit(1))
                x = x.bitwiseOR(F.shiftleft(bit, b))
        coords.append(x)
    return coords


# ---------------------------------------------------------------------------
# SQL registration (reference: catalog registration with metadata,
# src/lindel_extension.cpp:948-1026; no telemetry — deliberately omitted)
# ---------------------------------------------------------------------------

def register(spark: SparkSession, elems=("int8", "int16", "int32", "int64",
                                         "float32", "float64")) -> list[str]:
    """Register SQL-callable variants in the session catalog.

    ``{hilbert,morton}_encode_{elem}_{n}(array)`` for every legal arity
    of each element type, and ``{hilbert,morton}_decode_{width}_{n}``
    (plus ``..._f`` float / ``..._u`` unsigned forms) for every legal
    decode combination.  Spark UDF registration fixes the return type
    per name, so DuckDB's overload-on-input-type sets become families
    of explicit names.  Returns the registered names.

    Reference registration surface: src/lindel_extension.cpp:948-1026
    (docs metadata → Python docstrings; telemetry deliberately omitted).
    """
    js = spark._jsparkSession
    udfs = jvm.curves(spark)
    names = []
    for kind in ("hilbert", "morton"):
        for e in elems:
            et = elem_type(e)
            max_n = 128 // et.bits
            for n in range(1, max_n + 1):
                name = f"{kind}_encode_{et.name}_{n}"
                impl = f"__lindel_impl_{name}"
                total = encode_output_bits(et.bits, n)
                ret_type = encode_output_spark_type(total, "auto")
                js.udf().register(impl, udfs.udf(
                    "encode", kind, et.bits, n, _encode_output_mode(ret_type),
                    False, ret_type.json()))
                ret = ret_type.simpleString()
                arr_t = f"array<{et.spark_type.simpleString()}>"
                curve_desc = ("Hilbert curve index" if kind == "hilbert"
                              else "Morton (Z-order) index")
                comment = (
                    f"{curve_desc} of a {n}-element {et.name} array as a "
                    f"u{total} ({ret}). Raises on NULL elements or wrong "
                    f"length; NULL array returns NULL. Example: "
                    f"SELECT {name}(array({', '.join(['1'] * n)}))"
                )
                spark.sql(f"""
                    CREATE OR REPLACE TEMPORARY FUNCTION {name}(arr {arr_t})
                    RETURNS {ret}
                    COMMENT '{comment}'
                    RETURN {impl}(arr)
                """)
                names.append(name)
        for width in (8, 16, 32, 64, 128):
            for n in range(1, 17):
                for wf, wu, suffix in ((False, False, ""), (False, True, "_u"),
                                       (True, False, "_f")):
                    try:
                        plan = resolve_decode(width, n, wf, wu)
                    except ValueError:
                        continue
                    name = f"{kind}_decode_{width}_{n}{suffix}"
                    impl = f"__lindel_impl_{name}"
                    js.udf().register(impl, udfs.udf(
                        "decode", kind, plan.elem_bits, n,
                        _decode_output_mode(plan), False,
                        _decode_type(plan).json()))
                    in_t = "binary" if width == 128 else "bigint"
                    ret_t = _decode_type(plan).simpleString()
                    flavor = {"": "signed", "_u": "unsigned",
                              "_f": "float"}[suffix]
                    comment = (
                        f"Decode a u{width} {kind} key into {n} {flavor} "
                        f"coordinate(s) as {ret_t}. Inverse of "
                        f"{kind}_encode_*_{n}. Example: SELECT "
                        f"{name}({'X' if width == 128 else '7'})"
                    )
                    spark.sql(f"""
                        CREATE OR REPLACE TEMPORARY FUNCTION
                        {name}(v {in_t})
                        RETURNS {ret_t}
                        COMMENT '{comment}'
                        RETURN {impl}(v)
                    """)
                    names.append(name)
    return names
