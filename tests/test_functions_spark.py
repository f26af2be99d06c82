"""Spark-level tests of the four lindel functions (goldens, types,
NULL semantics, call forms, native Morton fast path). Reference corpus:
test/sql/lindel.test:15-111, docs/README.md:117-287."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lindel_spark import functions as LF

GRID_HILBERT = [0, 3, 4, 5, 58, 1, 2, 7, 6, 57, 14, 13, 8, 9, 54,
                15, 12, 11, 10, 53, 16, 17, 30, 31, 32]
GRID_MORTON = [0, 1, 4, 5, 16, 2, 3, 6, 7, 18, 8, 9, 12, 13, 24,
               10, 11, 14, 15, 26, 32, 33, 36, 37, 48]


@pytest.fixture(scope="module")
def grid(spark):
    a = spark.range(5).withColumnRenamed("id", "a")
    b = spark.range(5).withColumnRenamed("id", "b")
    return a.crossJoin(b)


@pytest.mark.parametrize("elem", ["int8", "int32"])
def test_grid_goldens(grid, elem):
    r = grid.select(
        "a", "b",
        LF.hilbert_encode([F.col("a"), F.col("b")], elem).alias("h"),
        LF.morton_encode([F.col("a"), F.col("b")], elem).alias("m"),
    ).orderBy("a", "b").collect()
    assert [x.h for x in r] == GRID_HILBERT
    assert [x.m for x in r] == GRID_MORTON


@pytest.mark.parametrize("elem", ["int8", "int16", "int32"])
def test_native_morton_matches_udf(grid, elem):
    r = grid.select(
        LF.morton_encode([F.col("a"), F.col("b")], elem).alias("m"),
        LF.morton_encode_native([F.col("a"), F.col("b")], elem).alias("mn"),
    ).collect()
    assert all(x.m == x.mn for x in r)


def test_native_morton_full_range_i32(spark):
    import random
    random.seed(42)
    rows = [(random.randint(-2**31, 2**31 - 1),
             random.randint(-2**31, 2**31 - 1)) for _ in range(500)]
    df = spark.createDataFrame(rows, "x int, y int")
    r = df.select(
        LF.morton_encode([F.col("x"), F.col("y")], "int32").alias("m"),
        LF.morton_encode_native([F.col("x"), F.col("y")], "int32").alias("mn"),
        LF.morton_decode_native(
            LF.morton_encode_native([F.col("x"), F.col("y")], "int32"),
            2, "int32").alias("d"),
        "x", "y",
    ).collect()
    for x in r:
        assert x.m == x.mn
        assert list(x.d) == [x.x, x.y]


def test_array_input_and_scalar_goldens(spark):
    df = spark.createDataFrame([([1, 2, 3],)], "arr array<int>")
    r = df.select(
        LF.hilbert_encode(F.col("arr"), "int8", n=3).alias("h"),
        LF.morton_encode(F.col("arr"), "int8", n=3).alias("m"),
    ).collect()[0]
    assert (r.h, r.m) == (22, 29)


def test_float_goldens(spark):
    fdf = spark.createDataFrame([(37.8, 0.2)], "x float, y float")
    assert fdf.select(
        LF.hilbert_encode([F.col("x"), F.col("y")], "float32").alias("h")
    ).collect()[0].h == 2303654869236839926

    ddf = spark.createDataFrame([(37.8, 0.2)], "x double, y double")
    raw = ddf.select(
        LF.hilbert_encode([F.col("x"), F.col("y")], "float64").alias("h")
    ).collect()[0].h
    assert int.from_bytes(raw, "big") == 42534209309512799991913666633619307890

    f3 = spark.createDataFrame([(1.0, 5.0, 6.0)], "x float, y float, z float")
    raw = f3.select(
        LF.hilbert_encode([F.col("x"), F.col("y"), F.col("z")], "float32").alias("h")
    ).collect()[0].h
    assert int.from_bytes(raw, "big") == 8002395622101954260073409974


def test_string_ordinal_recipe(spark):
    # docs/README.md:204-212 — encode 'abcd' via per-char ordinals
    df = spark.createDataFrame([("abcd",)], "s string")
    arr = F.transform(F.split(F.col("s"), ""), lambda x: F.ascii(x))
    r = df.select(LF.hilbert_encode(arr, "int8", n=4).alias("h")).collect()[0]
    assert r.h == 178258816


def test_decode_goldens(spark):
    df = spark.createDataFrame([(22,)], "v long")
    r = df.select(
        LF.hilbert_decode(F.col("v"), 3, input_width=32).alias("d")
    ).collect()[0]
    assert list(r.d) == [1, 2, 3]
    # docs/README.md:240-253: hilbert_decode(7::uint16, 2, false, true) = [1,2]
    df7 = spark.createDataFrame([(7,)], "v long")
    r = df7.select(
        LF.hilbert_decode(F.col("v"), 2, want_unsigned=True, input_width=16)
        .alias("d")
    ).collect()[0]
    assert list(r.d) == [1, 2]


def test_decode_return_types(spark):
    df = spark.createDataFrame([(7,)], "v long")
    # u64 2 parts signed -> array<int>; unsigned -> array<long> (wider)
    c1 = df.select(LF.hilbert_decode(F.col("v"), 2, input_width=64).alias("d"))
    assert c1.schema["d"].dataType == T.ArrayType(T.IntegerType(), False)
    c2 = df.select(
        LF.hilbert_decode(F.col("v"), 2, want_unsigned=True, input_width=64)
        .alias("d"))
    assert c2.schema["d"].dataType == T.ArrayType(T.LongType(), False)
    c3 = df.select(
        LF.hilbert_decode(F.col("v"), 2, want_float=True, input_width=64)
        .alias("d"))
    assert c3.schema["d"].dataType == T.ArrayType(T.FloatType(), False)


def test_decimal_output_vectorized_matches_long(spark):
    # output="decimal" is built straight from the u64 lanes (no per-row
    # Python Decimal); values must equal the long carrier mod 2^64,
    # NULLs must propagate.
    df = spark.createDataFrame(
        [(5, 9), (2_000_000_000, 2_000_000_000), (None, 1)], "a int, b int")
    cols = [F.col("a"), F.col("b")]
    rows = df.select(
        LF.hilbert_encode(cols, "int32", output="decimal").alias("d"),
        LF.hilbert_encode(cols, "int32").alias("l")).collect()
    for r in rows:
        if r.l is None:
            assert r.d is None
        else:
            assert int(r.d) == (r.l + 2**64 if r.l < 0 else r.l)


def test_decode_unsigned_u64_parts_vectorized(spark):
    # 128-bit key -> 2x u64 parts with want_unsigned: Decimal(38,0)
    # carrier, values exactly the unsigned reinterpretation.
    df = spark.createDataFrame([(-1, -1), (3, 4)], "a long, b long")
    out = df.select(
        "a", "b",
        LF.hilbert_decode(
            LF.hilbert_encode([F.col("a"), F.col("b")], "int64"),
            2, want_unsigned=True, input_width=128).alias("d"))
    for r in out.collect():
        want = [x + 2**64 if x < 0 else x for x in (r.a, r.b)]
        assert [int(x) for x in r.d] == want


def test_decode_invalid_parts():
    from lindel_spark.types import resolve_decode
    with pytest.raises(ValueError, match="greater than 0"):
        resolve_decode(64, 0, False, False)
    with pytest.raises(ValueError, match="1 parts for UTINYINT"):
        resolve_decode(8, 2, False, False)
    with pytest.raises(ValueError, match="2-3 parts"):
        resolve_decode(32, 4, False, False)  # reference gap kept as-is
    with pytest.raises(ValueError, match="no float decode"):
        resolve_decode(32, 2, True, False)


def test_encode_arity_errors():
    with pytest.raises(ValueError, match="at most 2"):
        LF.hilbert_encode([F.col("a")] * 3, "int64")
    with pytest.raises(ValueError, match="at most 4"):
        LF.morton_encode([F.col("a")] * 5, "float32")


def test_null_array_gives_null(spark):
    df = spark.createDataFrame([([1, 2],), (None,)], "arr array<int>")
    r = df.select(LF.hilbert_encode(F.col("arr"), "int8", n=2).alias("h")).collect()
    assert [x.h for x in r] == [7, None]


def test_null_element_raises(spark):
    # a NULL float element must not pass as a (legal, bit-cast) NaN
    for row, arr_t, elem in (([1, None], "arr array<int>", "int8"),
                             ([1.0, None], "arr array<double>", "float32")):
        df = spark.createDataFrame([(row,)], arr_t)
        with pytest.raises(Exception, match="NULL values"):
            df.select(LF.hilbert_encode(F.col("arr"), elem, n=2).alias("h")).collect()


def test_null_scalar_column_gives_null(spark):
    """List-of-columns form follows SQL null propagation (a NULL input
    column -> NULL key), unlike the array form which raises on NULL
    elements — divergence documented in the hilbert_encode docstring."""
    df = spark.createDataFrame(
        [(1, 2), (1, None), (None, 2), (None, None), (0, 0)], "x int, y int")
    r = df.select(
        LF.hilbert_encode([F.col("x"), F.col("y")], "int8").alias("h"),
        LF.morton_encode(["x", "y"], "int8").alias("m"),
    ).collect()
    assert [x.h for x in r] == [7, None, None, None, 0]
    assert [x.m for x in r] == [6, None, None, None, 0]


def test_wrong_length_raises(spark):
    for arr in ([1, 2, 3], [1]):
        df = spark.createDataFrame([(arr,)], "arr array<int>")
        with pytest.raises(Exception, match="length"):
            df.select(LF.hilbert_encode(F.col("arr"), "int8", n=2).alias("h")).collect()


def test_out_of_range_element_raises_in_both_forms(spark):
    """The Spark cast to ``elem`` runs before the kernel: 300 does not
    fit int8, so both call forms fail with CAST_OVERFLOW (ANSI) rather
    than wrapping to 44 in a NumPy ``astype``."""
    df = spark.createDataFrame([(300, 1, [300, 1])], "x int, y int, arr array<int>")
    for key in (LF.hilbert_encode(["x", "y"], "int8"),
                LF.hilbert_encode(F.col("arr"), "int8", n=2)):
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            df.select(key.alias("h")).collect()


def test_signed_bigint_roundtrip(spark):
    df = spark.createDataFrame([(1, -2)], "x long, y long")
    r = df.select(
        LF.hilbert_decode(
            LF.hilbert_encode([F.col("x"), F.col("y")], "int64"),
            2, input_width=128,
        ).alias("d")
    ).collect()[0]
    assert [int(v) for v in r.d] == [1, -2]


def test_float_roundtrip_with_specials(spark):
    rows = [(37.8, 0.2), (-1.5, 0.0), (-0.0, float("inf")), (1e-38, -3.4e38)]
    df = spark.createDataFrame(rows, "x float, y float")
    r = df.select(
        "x", "y",
        LF.hilbert_decode(
            LF.hilbert_encode([F.col("x"), F.col("y")], "float32"),
            2, want_float=True, input_width=64,
        ).alias("d"),
    ).collect()
    for x in r:
        assert list(x.d) == [x.x, x.y]


def test_sql_registration(spark):
    LF.register(spark, elems=("int8", "int32"))
    r = spark.sql(
        "SELECT hilbert_encode_int8_3(array(1,2,3)) AS h, "
        "hilbert_decode_32_3(22) AS d"
    ).collect()[0]
    assert r.h == 22
    assert list(r.d) == [1, 2, 3]


def test_udf_construction_emits_no_warning(spark):
    """Building a curve Column (a JVM UDF) or dedup's Arrow UDF emits
    no warning: Arrow UDFs are built from type hints, since Spark warns
    at each construction that names an explicit arrow UDF type."""
    import warnings

    from lindel_spark.dedup import simhash_fast

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for kind in ("hilbert", "morton"):
            enc = getattr(LF, f"{kind}_encode")
            dec = getattr(LF, f"{kind}_decode")
            enc(["x", "y"], "int32")
            enc(F.col("arr"), "float64", n=2)
            dec(F.col("v"), 2, input_width=64)
            dec(F.col("b"), 2, input_width=128)
        simhash_fast(F.col("text"))


def test_elem_inference_from_schema(spark):
    """elem=None + df= derives the element type from the schema, the
    PySpark equivalent of the reference's bind-time type derivation."""
    df = spark.createDataFrame([([1, 2],)], "arr array<tinyint>")
    r = df.select(
        LF.hilbert_encode("arr", elem=None, n=2, df=df).alias("h")
    ).collect()
    assert r[0].h == 7  # int8 golden

    df2 = spark.createDataFrame([(1, 3)], "x tinyint, y tinyint")
    r2 = df2.select(
        LF.morton_encode(["x", "y"], elem=None, df=df2).alias("m"),
        LF.morton_encode_native(["x", "y"], elem=None, df=df2).alias("mn"),
    ).collect()
    assert r2[0].m == r2[0].mn == 7  # grid golden morton(1,3)


def test_elem_inference_errors(spark):
    df = spark.createDataFrame([(1, 2.5)], "x int, y double")
    with pytest.raises(TypeError, match="mixed element types"):
        LF.hilbert_encode(["x", "y"], elem=None, df=df)
    with pytest.raises(ValueError, match="pass elem="):
        LF.hilbert_encode(["x", "y"], elem=None)
    df3 = spark.createDataFrame([("s",)], "t string")
    with pytest.raises(TypeError, match="unsupported element type|expected"):
        LF.hilbert_encode("t", elem=None, n=1, df=df3)
