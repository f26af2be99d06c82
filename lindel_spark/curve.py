"""Vectorized NumPy kernels for Hilbert / Morton (Z-order) curves.

Pure NumPy, no Spark dependency: the reference implementation of the
curve math.  The SQL surface runs the JVM port of these kernels
(``lindel_spark/Curves.java``, the analogue of the reference's per-row
Rust FFI kernels, duckdb_lindel_rust/src/lib.rs:81-339, called from
src/lindel_extension.cpp:708,735,771); the tests compare the two bit
for bit, and perfbench times these to report kernel cost per row.

Algorithm (verified bit-exact against every golden value in the
reference repo — test/sql/lindel.test:15-111, docs/README.md:117-287):

* Morton encode = MSB-first bit-interleave of the N fixed-width
  coordinates; element 0 supplies the most significant bit at each bit
  level (behavior of the `morton-encoding 2.0.1` crate the reference
  links, e.g. morton_encode([1,2,3]::tinyint[3]) = 29 = 0b000_011_101).
* Hilbert encode = Skilling's transform ("Programming the Hilbert
  curve", J. Skilling, AIP Conf. Proc. 707, 2004) applied axes ->
  transpose, then the same MSB-first interleave.  Decode is the exact
  inverse.

Values wider than 64 bits (u128 outputs) are carried as (hi, lo)
uint64 lane pairs; the Spark functions return them big-endian as
BinaryType so lexicographic binary order == unsigned numeric order.
"""

from __future__ import annotations

import numpy as np

_U1 = np.uint64(1)
_U64_DTYPES = {8: np.uint8, 16: np.uint16, 32: np.uint32, 64: np.uint64}

# lanes_to_bytes / bytes_to_lanes build big-endian byte matrices by
# byte-reversing a .view(np.uint8) of uint64 lanes — little-endian only.
assert np.little_endian, "lindel_spark requires a little-endian host"


def unsigned_dtype(bits: int):
    """The NumPy unsigned dtype for an element width in bits."""
    return _U64_DTYPES[bits]


# ---------------------------------------------------------------------------
# bit interleave / deinterleave (the Morton primitive)
# ---------------------------------------------------------------------------

def _spread_plan(elem_bits: int, n: int):
    """(shift, mask_before, mask_after) steps moving bit j to j*n.

    Derived by simulation (positions tracked explicitly, high power of
    two first — the classic "magic numbers" doubling generalized to any
    stride); validated exhaustively against the per-bit reference in
    tests/test_curve.py. Masks are 128-bit Python ints, split into
    (hi, lo) lanes at execution time.
    """
    key = (elem_bits, n)
    cached = _SPREAD_PLANS.get(key)
    if cached is not None:
        return cached
    pos = list(range(elem_bits))
    plan = []
    for k in range((elem_bits - 1).bit_length() - 1, -1, -1):
        s = (1 << k) * (n - 1)
        move = [j for j in range(elem_bits) if j & (1 << k)]
        if not move or s == 0:
            continue
        mask_before = 0
        for p in pos:
            mask_before |= 1 << p
        newpos = pos.copy()
        for j in move:
            newpos[j] = pos[j] + s
        mask_after = 0
        for p in newpos:
            mask_after |= 1 << p
        plan.append((s, mask_before, mask_after))
        pos = newpos
    assert pos == [j * n for j in range(elem_bits)]
    _SPREAD_PLANS[key] = tuple(plan)
    return _SPREAD_PLANS[key]


_SPREAD_PLANS: dict = {}


def _shl128(hi, lo, s: int):
    if s == 0:
        return hi, lo
    if s >= 64:
        return lo << np.uint64(s - 64), np.zeros_like(lo)
    su = np.uint64(s)
    return (hi << su) | (lo >> np.uint64(64 - s)), lo << su


def _shr128(hi, lo, s: int):
    if s == 0:
        return hi, lo
    if s >= 64:
        return np.zeros_like(hi), hi >> np.uint64(s - 64)
    su = np.uint64(s)
    return hi >> su, (lo >> su) | (hi << np.uint64(64 - s))


def _mask128(hi, lo, mask: int):
    return hi & np.uint64(mask >> 64), lo & np.uint64(mask & _M64)


_M64 = (1 << 64) - 1


def interleave_bits(X: np.ndarray, elem_bits: int) -> tuple[np.ndarray, np.ndarray]:
    """MSB-first interleave of coordinates.

    X: (rows, n) unsigned array.  Output bit position for coordinate
    ``i`` bit ``b`` (LSB=0) is ``b*n + (n-1-i)`` — element 0 is most
    significant within each bit group.

    Runs O(n·log(elem_bits)) vectorized passes (staged magic-number
    spreading), not O(n·elem_bits). Returns (hi, lo) uint64 arrays; hi
    is all-zero when ``elem_bits * n <= 64``.
    """
    rows, n = X.shape
    lo = np.zeros(rows, np.uint64)
    hi = np.zeros(rows, np.uint64)
    if n == 1:
        return hi, lo | np.ascontiguousarray(X[:, 0], dtype=np.uint64)
    plan = _spread_plan(elem_bits, n)
    for i in range(n):
        xl = np.ascontiguousarray(X[:, i]).astype(np.uint64)
        xh = np.zeros_like(xl)
        for s, _, mask_after in plan:
            sh, sl = _shl128(xh, xl, s)
            xh, xl = _mask128(xh | sh, xl | sl, mask_after)
        xh, xl = _shl128(xh, xl, n - 1 - i)
        hi |= xh
        lo |= xl
    return hi, lo


def deinterleave_bits(
    hi: np.ndarray, lo: np.ndarray, n: int, elem_bits: int
) -> np.ndarray:
    """Inverse of :func:`interleave_bits` → (rows, n) array of uint64."""
    rows = lo.shape[0]
    X = np.empty((rows, n), np.uint64)
    if n == 1:
        X[:, 0] = lo
        return X
    plan = _spread_plan(elem_bits, n)
    stride_mask = 0
    for j in range(elem_bits):
        stride_mask |= 1 << (j * n)
    for i in range(n):
        xh, xl = _shr128(hi, lo, n - 1 - i)
        xh, xl = _mask128(xh, xl, stride_mask)
        for s, mask_before, _ in reversed(plan):
            sh, sl = _shr128(xh, xl, s)
            xh, xl = _mask128(xh | sh, xl | sl, mask_before)
        X[:, i] = xl
    return X


# ---------------------------------------------------------------------------
# Skilling transform (Hilbert <-> axes)
# ---------------------------------------------------------------------------

def axes_to_transpose(X: np.ndarray, elem_bits: int) -> np.ndarray:
    """Skilling axes→transpose, vectorized over rows.

    X: (rows, n) unsigned array of width ``elem_bits``; returns a new
    array of the same shape/dtype holding the "transpose" form whose
    MSB-first interleave is the Hilbert index.
    """
    rows, n = X.shape
    dt = X.dtype
    # contiguous per-coordinate arrays: every pass below is a dense
    # single-stride op (column views of a (rows, n) matrix are strided
    # and ~2-3x slower per pass)
    cols = [np.ascontiguousarray(X[:, i]) for i in range(n)]
    zero = dt.type(0)
    M = 1 << (elem_bits - 1)
    # Inverse-undo pass, top bit down to 2.
    Q = M
    while Q > 1:
        P = dt.type(Q - 1)
        Qt = dt.type(Q)
        x0 = cols[0]
        for i in range(n):
            xi = cols[i] if i else x0
            cond = (xi & Qt) != 0
            # if set: X0 ^= P ; else: t = (X0 ^ Xi) & P ; X0 ^= t ; Xi ^= t
            t = np.where(cond, zero, (x0 ^ xi) & P)
            x0 = x0 ^ np.where(cond, P, t)
            if i != 0:
                cols[i] = xi ^ t
        cols[0] = x0
        Q >>= 1
    # Gray encode across dimensions (sequential: uses updated X[i-1]).
    for i in range(1, n):
        cols[i] = cols[i] ^ cols[i - 1]
    t = np.zeros(rows, dt)
    Q = M
    while Q > 1:
        t = np.where((cols[n - 1] & dt.type(Q)) != 0, t ^ dt.type(Q - 1), t)
        Q >>= 1
    return np.column_stack([c ^ t for c in cols])


def transpose_to_axes(X: np.ndarray, elem_bits: int) -> np.ndarray:
    """Inverse of :func:`axes_to_transpose`."""
    rows, n = X.shape
    dt = X.dtype
    cols = [np.ascontiguousarray(X[:, i]) for i in range(n)]
    zero = dt.type(0)
    M = 1 << (elem_bits - 1)
    # Gray decode.
    t = cols[n - 1] >> dt.type(1)
    for i in range(n - 1, 0, -1):
        cols[i] = cols[i] ^ cols[i - 1]
    cols[0] = cols[0] ^ t
    # Undo-excess pass, bit 2 up to the top bit.
    Q = 2
    while Q <= M:
        P = dt.type(Q - 1)
        Qt = dt.type(Q)
        x0 = cols[0]
        for i in range(n - 1, -1, -1):
            xi = cols[i] if i else x0
            cond = (xi & Qt) != 0
            t = np.where(cond, zero, (x0 ^ xi) & P)
            x0 = x0 ^ np.where(cond, P, t)
            if i != 0:
                cols[i] = xi ^ t
        cols[0] = x0
        Q <<= 1
    return np.column_stack(cols)


# ---------------------------------------------------------------------------
# public batch kernels
# ---------------------------------------------------------------------------

def morton_encode_batch(X: np.ndarray, elem_bits: int) -> tuple[np.ndarray, np.ndarray]:
    """Morton (Z-order) index of each row of X → (hi, lo) uint64 lanes."""
    return interleave_bits(X, elem_bits)


def hilbert_encode_batch(X: np.ndarray, elem_bits: int) -> tuple[np.ndarray, np.ndarray]:
    """Hilbert index of each row of X → (hi, lo) uint64 lanes."""
    dt = unsigned_dtype(elem_bits)
    T = axes_to_transpose(np.ascontiguousarray(X, dtype=dt), elem_bits)
    return interleave_bits(T, elem_bits)


def morton_decode_batch(
    hi: np.ndarray, lo: np.ndarray, n: int, elem_bits: int
) -> np.ndarray:
    """Inverse of morton_encode_batch → (rows, n) uint64 coordinates."""
    return deinterleave_bits(hi, lo, n, elem_bits)


def hilbert_decode_batch(
    hi: np.ndarray, lo: np.ndarray, n: int, elem_bits: int
) -> np.ndarray:
    """Inverse of hilbert_encode_batch → (rows, n) uint64 coordinates."""
    dt = unsigned_dtype(elem_bits)
    T = deinterleave_bits(hi, lo, n, elem_bits).astype(dt)
    return transpose_to_axes(T, elem_bits).astype(np.uint64)


# ---------------------------------------------------------------------------
# bit-cast helpers (reference semantics: raw bits, no order transform;
# src/lindel_extension.cpp:735,744,752 reinterpret buffer pointers)
# ---------------------------------------------------------------------------

def bitcast_to_unsigned(a: np.ndarray, elem_bits: int) -> np.ndarray:
    """Reinterpret signed-int/float array as unsigned of the same width."""
    dt = unsigned_dtype(elem_bits)
    if a.dtype == dt:
        return a
    if a.dtype.itemsize * 8 != elem_bits:
        raise ValueError(
            f"bitcast width mismatch: {a.dtype} is not {elem_bits}-bit"
        )
    return a.view(dt)


def bitcast_from_unsigned(a: np.ndarray, out_dtype) -> np.ndarray:
    """Reinterpret unsigned array as the requested same-width dtype."""
    out_dtype = np.dtype(out_dtype)
    if a.dtype.itemsize != out_dtype.itemsize:
        raise ValueError(
            f"bitcast width mismatch: {a.dtype} -> {out_dtype}"
        )
    return a.view(out_dtype)


# ---------------------------------------------------------------------------
# (hi, lo) <-> python int / big-endian bytes
# ---------------------------------------------------------------------------

def lanes_to_ints(hi: np.ndarray, lo: np.ndarray) -> list[int]:
    """(hi, lo) lanes → Python unsigned ints (test/debug helper)."""
    return [(int(h) << 64) | int(l) for h, l in zip(hi.tolist(), lo.tolist())]


def lanes_to_bytes(hi: np.ndarray, lo: np.ndarray, width_bytes: int) -> np.ndarray:
    """(hi, lo) lanes → (rows, width_bytes) uint8 big-endian matrix.

    Assumes a little-endian host (``.view(np.uint8)`` then byte-reverse);
    asserted at import below — every supported platform qualifies.
    """
    rows = lo.shape[0]
    out = np.zeros((rows, width_bytes), np.uint8)
    hi_be = hi[:, None].view(np.uint8).reshape(rows, 8)[:, ::-1]
    lo_be = lo[:, None].view(np.uint8).reshape(rows, 8)[:, ::-1]
    both = np.concatenate([hi_be, lo_be], axis=1)  # 16 bytes big-endian
    out[:, :] = both[:, 16 - width_bytes:]
    return out


def bytes_to_lanes(buf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(rows, w) uint8 big-endian matrix → (hi, lo) uint64 lanes."""
    rows, w = buf.shape
    full = np.zeros((rows, 16), np.uint8)
    full[:, 16 - w:] = buf
    hi = np.ascontiguousarray(full[:, 7::-1]).view(np.uint64).reshape(rows)
    lo = np.ascontiguousarray(full[:, 15:7:-1]).view(np.uint64).reshape(rows)
    return hi, lo
