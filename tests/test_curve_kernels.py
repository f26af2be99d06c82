"""The JVM curve kernels (lindel_spark/Curves.java) on dense inputs, and
how curve Columns are built.

The hypothesis tests in test_curve_properties.py cover every arity and
output form on a few rows each. The tests here cover the specialised
paths densely: the 2-D Hilbert table on every 8-bit point, and the
word-parallel interleave at arities 1, 2 and 3 on 100k seeded random
bit patterns per width. Both curves, encode and decode, are held to
curve.py bit for bit, one Spark query per width.
"""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from lindel_spark import curve
from lindel_spark import functions as LF
from lindel_spark.types import encode_output_bits

ROWS = 100_000
ARITIES = (1, 2, 3)
# quiet and signalling NaNs with payloads, +-inf, +-0.0
_FLOAT_SPECIALS = {
    32: [0x7FC00123, 0xFFC00001, 0x7F800001, 0x7F800000, 0xFF800000,
         0x00000000, 0x80000000],
    64: [0x7FF8000000000123, 0xFFF8000000000001, 0x7FF0000000000001,
         0x7FF0000000000000, 0xFFF0000000000000, 0, 1 << 63],
}


def _points(bits: int) -> np.ndarray:
    """(rows, 3) unsigned bit patterns: at 8 bits every (x0, x1) pair
    with a random x2; wider, seeded uniform draws led by the extremes
    (and, for the float widths, the specials)."""
    dt = curve.unsigned_dtype(bits)
    rng = np.random.default_rng(bits)
    if bits == 8:
        x0, x1 = np.meshgrid(np.arange(256), np.arange(256), indexing="ij")
        x2 = rng.integers(0, 256, x0.size)
        return np.stack([x0.ravel(), x1.ravel(), x2], axis=1).astype(dt)
    U = rng.integers(0, np.iinfo(dt).max, (ROWS, 3), dtype=dt,
                     endpoint=True)
    top = 1 << (bits - 1)
    lead = [0, 1, top - 1, top, (1 << bits) - 1]
    lead += _FLOAT_SPECIALS.get(bits, [])
    for i in range(3):
        U[:len(lead), i] = np.roll(np.array(lead, dtype=dt), i)
    return U


def _elems(bits: int) -> list:
    """The element types of a width: the signed int, and the float of
    the same width (fed the same bit patterns)."""
    return [f"int{bits}"] + ([f"float{bits}"] if bits in (32, 64) else [])


def _key_values(col, width: int) -> list:
    """Keys as unsigned ints: bigint carriers wrap, binary is big-endian."""
    if width > 64:
        return [int.from_bytes(b, "big") for b in col.to_pylist()]
    return col.to_numpy().view(np.uint64).tolist()


@pytest.mark.parametrize("bits", [8, 16, 32, 64])
def test_dense_bit_exact_with_numpy_reference(spark, bits):
    U = _points(bits)
    cols = {f"{e}_{i}": pa.array(U[:, i].view(np.dtype(e)))
            for e in _elems(bits) for i in range(3)}
    df = spark.createDataFrame(pa.table(cols))
    exprs, want = [], {}
    for e in _elems(bits):
        is_float = e.startswith("float")
        for n in ARITIES:
            if bits * n > 128:
                continue
            width = encode_output_bits(bits, n)
            for kind in ("hilbert", "morton"):
                enc = getattr(LF, f"{kind}_encode")(
                    [f"{e}_{i}" for i in range(n)], e)
                dec = getattr(LF, f"{kind}_decode")(
                    enc, n, want_float=is_float, input_width=width)
                alias = f"{kind}_{e}_{n}"
                exprs += [enc.alias(f"k_{alias}"), dec.alias(f"d_{alias}")]
                ref_enc = (curve.hilbert_encode_batch if kind == "hilbert"
                           else curve.morton_encode_batch)
                ref_dec = (curve.hilbert_decode_batch if kind == "hilbert"
                           else curve.morton_decode_batch)
                hi, lo = ref_enc(np.ascontiguousarray(U[:, :n]), bits)
                want[alias] = (width, n, curve.lanes_to_ints(hi, lo),
                               ref_dec(hi, lo, n, bits))
    got = df.select(*exprs).toArrow()
    dt = curve.unsigned_dtype(bits)
    for alias, (width, n, keys, parts) in want.items():
        key_col = got.column(f"k_{alias}").combine_chunks()
        assert _key_values(key_col, width) == keys, alias
        flat = got.column(f"d_{alias}").combine_chunks().flatten()
        decoded = flat.to_numpy(zero_copy_only=False).view(dt).reshape(-1, n)
        assert np.array_equal(decoded, parts.astype(dt)), alias


# ---------------------------------------------------------------------------
# Column building: one cached UDF per configuration
# ---------------------------------------------------------------------------

def _udf_id(spark, col) -> int:
    """Identity of the JVM UDF object a curve Column invokes."""
    return spark._jvm.System.identityHashCode(col._jc.node().function())


def test_same_configuration_reuses_one_jvm_udf(spark):
    base = LF.hilbert_encode(["x", "y"], "int32")
    assert _udf_id(spark, base) == _udf_id(
        spark, LF.hilbert_encode([F.col("a"), "b"], "int32"))
    dec = LF.hilbert_decode("k", 2, input_width=64)
    assert _udf_id(spark, dec) == _udf_id(
        spark, LF.hilbert_decode(base, 2, input_width=64))
    variants = [
        base,
        LF.morton_encode(["x", "y"], "int32"),                # curve
        LF.hilbert_encode(["x", "y"], "int16"),               # elem_bits
        LF.hilbert_encode(["x", "y", "z"], "int32"),          # n
        LF.hilbert_encode(["x", "y"], "int32", output="binary"),  # output
        LF.hilbert_encode("arr", "int32", n=2),               # null rule
        dec,                                                  # direction
    ]
    ids = [_udf_id(spark, c) for c in variants]
    assert len(set(ids)) == len(ids)


@pytest.mark.parametrize("n", [1, 2, 3])
def test_list_form_null_input_gives_null_key(spark, n):
    names = [f"c{i}" for i in range(n)]
    schema = ", ".join(f"{c} int" for c in names)
    rows = [tuple(range(1, n + 1))] + [
        tuple(None if j == i else j + 1 for j in range(n)) for i in range(n)]
    df = spark.createDataFrame(rows, schema)
    got = df.select(LF.hilbert_encode(names, "int8").alias("h"),
                    LF.morton_encode(names, "int8").alias("m")).collect()
    assert got[0]["h"] is not None and got[0]["m"] is not None
    assert all(r["h"] is None and r["m"] is None for r in got[1:])


def test_array_form_raises_on_null_element(spark):
    df = spark.createDataFrame([([1, None],)], "arr array<int>")
    with pytest.raises(Exception,
                       match="cannot handle arrays containing NULL"):
        df.select(LF.hilbert_encode("arr", "int32", n=2)).collect()


def test_column_resolves_in_another_session(spark):
    """A curve Column carries its UDF, not a registered name, so a
    session that never built one (a foreachBatch batch's, say) runs it."""
    col = LF.hilbert_encode(["a", "b", "c"], "int8").alias("h")
    other = spark.newSession()
    df = other.createDataFrame([(1, 2, 3)], "a int, b int, c int")
    assert df.select(col).first()["h"] == 22
