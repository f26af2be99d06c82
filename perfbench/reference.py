"""Pure-Python Hilbert / Morton reference, independent of lindel_spark.curve.

One point at a time with Python integers, written from Skilling's
"Programming the Hilbert curve" (AIP Conf. Proc. 707, 2004): axes ->
transpose -> MSB-first bit interleave, element 0 most significant at each
bit level. Signed integers and floats are bit-cast to unsigned of the same
width first, as the SQL functions do. The benchmark compares the library's
keys against this on a sample of rows; it is far too slow for whole tables.
"""

from __future__ import annotations

import struct


def to_unsigned(value, bits: int) -> int:
    """Raw bits of an int (two's complement) or float of width ``bits``."""
    if isinstance(value, float):
        fmt = {32: ("<f", "<I"), 64: ("<d", "<Q")}[bits]
        return struct.unpack(fmt[1], struct.pack(fmt[0], value))[0]
    return int(value) & ((1 << bits) - 1)


def _interleave(coords: list[int], bits: int) -> int:
    out = 0
    for b in range(bits - 1, -1, -1):
        for v in coords:
            out = (out << 1) | ((v >> b) & 1)
    return out


def _deinterleave(index: int, n: int, bits: int) -> list[int]:
    coords = [0] * n
    pos = n * bits - 1
    for b in range(bits - 1, -1, -1):
        for i in range(n):
            coords[i] |= ((index >> pos) & 1) << b
            pos -= 1
    return coords


def _axes_to_transpose(x: list[int], bits: int) -> list[int]:
    x = list(x)
    n = len(x)
    q = 1 << (bits - 1)
    while q > 1:
        p = q - 1
        for i in range(n):
            if x[i] & q:
                x[0] ^= p
            else:
                t = (x[0] ^ x[i]) & p
                x[0] ^= t
                x[i] ^= t
        q >>= 1
    for i in range(1, n):
        x[i] ^= x[i - 1]
    t = 0
    q = 1 << (bits - 1)
    while q > 1:
        if x[n - 1] & q:
            t ^= q - 1
        q >>= 1
    return [v ^ t for v in x]


def _transpose_to_axes(x: list[int], bits: int) -> list[int]:
    x = list(x)
    n = len(x)
    t = x[n - 1] >> 1
    for i in range(n - 1, 0, -1):
        x[i] ^= x[i - 1]
    x[0] ^= t
    q = 2
    while q != 1 << bits:
        p = q - 1
        for i in range(n - 1, -1, -1):
            if x[i] & q:
                x[0] ^= p
            else:
                t = (x[0] ^ x[i]) & p
                x[0] ^= t
                x[i] ^= t
        q <<= 1
    return x


def hilbert_index(point, bits: int) -> int:
    """Unsigned Hilbert index of ``point`` (ints or floats of ``bits``)."""
    return _interleave(
        _axes_to_transpose([to_unsigned(v, bits) for v in point], bits), bits)


def morton_index(point, bits: int) -> int:
    """Unsigned Morton (Z-order) index of ``point``."""
    return _interleave([to_unsigned(v, bits) for v in point], bits)


def hilbert_point(index: int, n: int, bits: int) -> list[int]:
    """Unsigned coordinates of the ``n``-D Hilbert ``index``."""
    return _transpose_to_axes(_deinterleave(index, n, bits), bits)
