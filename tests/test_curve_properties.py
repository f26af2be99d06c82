"""Hypothesis property tests: decode(encode(x)) == x over the full
signed domain of every integer width, and order-consistency of the
native vs UDF morton paths — random coverage beyond the lineitem-
derived round-trip queries (SURVEY §5.2)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lindel_spark import curve

WIDTHS = [(8, np.int8), (16, np.int16), (32, np.int32), (64, np.int64)]


def _rt(kernel_enc, kernel_dec, xs, bits, n):
    X = np.array(xs, dtype=np.int64).reshape(1, n)
    U = curve.bitcast_to_unsigned(
        np.ascontiguousarray(X.astype({8: np.int8, 16: np.int16,
                                       32: np.int32, 64: np.int64}[bits])),
        bits)
    hi, lo = kernel_enc(U, bits)
    out = kernel_dec(hi, lo, n, bits)
    return out


@settings(max_examples=200, deadline=None)
@given(st.integers(-128, 127), st.integers(-128, 127),
       st.integers(-128, 127))
def test_hilbert_i8_3_roundtrip(a, b, c):
    out = _rt(curve.hilbert_encode_batch, curve.hilbert_decode_batch,
              [a, b, c], 8, 3)
    signed = out.astype(np.int8).astype(np.int64)
    assert list(signed[0]) == [a, b, c]


@settings(max_examples=200, deadline=None)
@given(st.integers(-2**31, 2**31 - 1), st.integers(-2**31, 2**31 - 1))
def test_morton_i32_2_roundtrip(a, b):
    out = _rt(curve.morton_encode_batch, curve.morton_decode_batch,
              [a, b], 32, 2)
    signed = out.astype(np.int32).astype(np.int64)
    assert list(signed[0]) == [a, b]


@settings(max_examples=100, deadline=None)
@given(st.integers(-2**63, 2**63 - 1), st.integers(-2**63, 2**63 - 1))
def test_hilbert_i64_2_roundtrip(a, b):
    out = _rt(curve.hilbert_encode_batch, curve.hilbert_decode_batch,
              [a, b], 64, 2)
    assert list(out.view(np.int64)[0]) == [a, b]


@settings(max_examples=100, deadline=None)
@given(st.lists(st.floats(allow_nan=False, width=32), min_size=2,
                max_size=2))
def test_hilbert_f32_2_roundtrip(vals):
    X = np.array(vals, dtype=np.float32).reshape(1, 2)
    U = curve.bitcast_to_unsigned(np.ascontiguousarray(X), 32)
    hi, lo = curve.hilbert_encode_batch(U, 32)
    out = curve.hilbert_decode_batch(hi, lo, 2, 32)
    back = out.astype(np.uint32).view(np.float32)
    assert np.array_equal(back.reshape(-1), X.reshape(-1))


# ---------------------------------------------------------------------------
# the shipped JVM kernels (lindel_spark/Curves.java) against curve.py
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, Phase  # noqa: E402

from lindel_spark.types import (  # noqa: E402
    elem_type,
    encode_output_bits,
    resolve_decode,
)

ELEMS = ("int8", "int16", "int32", "int64", "float32", "float64")  # NumPy names
# each example is a Spark query over ~150 curve expressions: a failure
# is reported as drawn, since shrinking it would cost minutes of queries
_SPARK_PHASES = (Phase.explicit, Phase.reuse, Phase.generate)
# quiet NaNs with payloads a canonicalising bit-cast would drop
_NAN_PAYLOADS = {32: [0x7FC00123, 0xFFC00001],
                 64: [0x7FF8000000000123, 0xFFF8000000000001]}


def _bits_strategy(bits: int, is_float: bool):
    """Raw bit patterns: 0, 1, max, min (= -0.0 for floats), -1, plus
    NaN payloads and infinities for floats, mixed with uniform draws."""
    top = 1 << (bits - 1)
    special = [0, 1, top - 1, top, (1 << bits) - 1]
    if is_float:
        inf = 0x7F800000 if bits == 32 else 0x7FF0000000000000
        special += _NAN_PAYLOADS[bits] + [inf, inf | top]
    return st.one_of(st.sampled_from(special),
                     st.integers(0, (1 << bits) - 1))


def _column(table, name: str):
    return table.column(name).combine_chunks()


def _encode_expected(kind, U, bits, n, output):
    enc = curve.hilbert_encode_batch if kind == "hilbert" else curve.morton_encode_batch
    hi, lo = enc(U, bits)
    if output == "long":
        return lo.view(np.int64).tolist()
    if output == "decimal":
        return [int(v) for v in lo]
    width = encode_output_bits(bits, n) // 8
    return [bytes(r) for r in curve.lanes_to_bytes(hi, lo, width)]


# per element type: its raw-bit columns, up to the widest legal arity
_ENC_COLS = {e: 128 // elem_type(e).bits for e in ELEMS}


@settings(max_examples=12, deadline=None, phases=_SPARK_PHASES,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@given(st.lists(st.fixed_dictionaries({
    e: st.tuples(*[_bits_strategy(elem_type(e).bits, elem_type(e).is_float)]
                 * _ENC_COLS[e]) for e in ELEMS}), min_size=1, max_size=6))
def test_jvm_encode_bit_exact_with_numpy_reference(spark, rows):
    """Every element type at every legal arity, both curves, every
    output form: the JVM encode equals curve.py's kernels bit for bit
    on raw bit patterns — extremes, -0.0 and NaN payloads included."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from lindel_spark import functions as LF

    cols, U = {}, {}
    for e in ELEMS:
        et = elem_type(e)
        for i in range(_ENC_COLS[e]):
            U[e, i] = np.array([r[e][i] for r in rows],
                               dtype=curve.unsigned_dtype(et.bits))
            cols[f"{e}_{i}"] = pa.array(U[e, i].view(np.dtype(e)))
    df = spark.createDataFrame(pa.table(cols))
    exprs, want = [], {}
    for e in ELEMS:
        et = elem_type(e)
        for n in range(1, _ENC_COLS[e] + 1):
            names = [F.col(f"{e}_{i}") for i in range(n)]
            Un = np.stack([U[e, i] for i in range(n)], axis=1)
            total = encode_output_bits(et.bits, n)
            outputs = ("long", "binary", "decimal") if total <= 64 else ("binary",)
            for kind in ("hilbert", "morton"):
                enc = getattr(LF, f"{kind}_encode")
                for out in outputs:
                    alias = f"{kind}_{e}_{n}_{out}"
                    exprs.append(enc(names, e, output=out).alias(alias))
                    want[alias] = _encode_expected(kind, Un, et.bits, n, out)
    got = df.select(*exprs).toArrow()
    for alias, expected in want.items():
        values = _column(got, alias).to_pylist()
        if alias.endswith("decimal"):
            values = [int(v) for v in values]
        assert values == expected, alias


def _decode_plans():
    """Every legal decode plan, from the bind-time rules in types.py."""
    plans = []
    for w in (8, 16, 32, 64, 128):
        for n in range(1, 17):
            for wf, wu in ((False, False), (False, True), (True, False)):
                try:
                    plans.append(resolve_decode(w, n, wf, wu))
                except ValueError:
                    pass
    return plans


def _decode_expected(kind, plan, hi, lo):
    if plan.elem_bits == 128:  # u128 in one part: the key's 16 bytes
        return [[bytes(r)] for r in curve.lanes_to_bytes(hi, lo, 16)]
    dec = curve.hilbert_decode_batch if kind == "hilbert" else curve.morton_decode_batch
    bits = plan.elem_bits
    U = dec(hi, lo, plan.nparts, bits).astype(curve.unsigned_dtype(bits))
    if plan.want_float or plan.want_unsigned:  # floats as raw bits
        return U.astype(np.uint64).tolist()
    return U.view(np.dtype(f"int{bits}")).astype(np.int64).tolist()


@settings(max_examples=12, deadline=None, phases=_SPARK_PHASES,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(*[st.integers(0, (1 << w) - 1)
                            for w in (8, 16, 32, 64, 128)]),
                min_size=1, max_size=6))
def test_jvm_decode_bit_exact_with_numpy_reference(spark, keys):
    """Every legal decode plan (signed, ``_u`` and ``_f``, u8 to u128),
    both curves: the JVM decode equals curve.py's kernels bit for bit;
    float parts are compared as raw bits, so NaN payloads count."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from lindel_spark import functions as LF

    cols, lanes = {}, {}
    for j, w in enumerate((8, 16, 32, 64, 128)):
        v = [k[j] for k in keys]
        hi = np.array([x >> 64 for x in v], dtype=np.uint64)
        lo = np.array([x & ((1 << 64) - 1) for x in v], dtype=np.uint64)
        lanes[w] = hi, lo
        cols[f"k{w}"] = (pa.array([x.to_bytes(16, "big") for x in v])
                         if w == 128 else pa.array(lo.view(np.int64)))
    df = spark.createDataFrame(pa.table(cols))
    exprs, want = [], {}
    for plan in _decode_plans():
        w = plan.input_width
        for kind in ("hilbert", "morton"):
            alias = (f"{kind}_{w}_{plan.nparts}_{int(plan.want_float)}"
                     f"{int(plan.want_unsigned)}")
            exprs.append(getattr(LF, f"{kind}_decode")(
                F.col(f"k{w}"), plan.nparts, plan.want_float,
                plan.want_unsigned, input_width=w).alias(alias))
            want[alias] = (plan, _decode_expected(kind, plan, *lanes[w]))
    got = df.select(*exprs).toArrow()
    for alias, (plan, expected) in want.items():
        col = _column(got, alias)
        if plan.want_float:
            flat = col.flatten().to_numpy(zero_copy_only=False)
            ubits = curve.unsigned_dtype(plan.elem_bits)
            rows = flat.view(ubits).astype(np.uint64).reshape(
                len(keys), plan.nparts).tolist()
        else:
            rows = [[v if isinstance(v, bytes) else int(v) for v in r]
                    for r in col.to_pylist()]
        assert rows == expected, alias
