"""Vectorized Z-order (Morton) and Hilbert curve keys.

Space-filling-curve clustering keys computed as whole-column NumPy bit ops
over Arrow data, never per-row Python. The clustering rewrite
(``operators/clustering.py``) reads Parquet with pyarrow inside its tasks:
string dims are hashed with a vectorized FNV-1a over the Arrow string
buffers, the numeric dim is min/max-scaled, and the curve kernels interleave
the resulting fixed-width integers. Keys are int64 (63 usable bits).

All magic constants are the standard public-domain Morton spreading masks;
the Hilbert transform is the classic Wikipedia xy2d rotation algorithm,
vectorized with boolean masks.
"""

from __future__ import annotations

import numpy as np

_U = np.uint64


def _part1by2(x: np.ndarray) -> np.ndarray:
    """Spread each of the low 21 bits to every 3rd bit (3-dim Morton)."""
    x = x & _U(0x1FFFFF)
    x = (x | (x << _U(32))) & _U(0x1F00000000FFFF)
    x = (x | (x << _U(16))) & _U(0x1F0000FF0000FF)
    x = (x | (x << _U(8))) & _U(0x100F00F00F00F00F)
    x = (x | (x << _U(4))) & _U(0x10C30C30C30C30C3)
    x = (x | (x << _U(2))) & _U(0x1249249249249249)
    return x


def _part1by1(x: np.ndarray) -> np.ndarray:
    """Spread each of the low 31 bits to every 2nd bit (2-dim Morton)."""
    x = x & _U(0x7FFFFFFF)
    x = (x | (x << _U(16))) & _U(0x0000FFFF0000FFFF)
    x = (x | (x << _U(8))) & _U(0x00FF00FF00FF00FF)
    x = (x | (x << _U(4))) & _U(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << _U(2))) & _U(0x3333333333333333)
    x = (x | (x << _U(1))) & _U(0x5555555555555555)
    return x


def morton3(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Interleave three 21-bit values -> 63-bit Z-order key."""
    return _part1by2(a) | (_part1by2(b) << _U(1)) | (_part1by2(c) << _U(2))


def morton2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Interleave two 31-bit values -> 62-bit Z-order key."""
    return _part1by1(a) | (_part1by1(b) << _U(1))


def hilbert2(x: np.ndarray, y: np.ndarray, order: int = 31) -> np.ndarray:
    """Vectorized 2-D Hilbert index of (x, y), each in [0, 2^order)."""
    x = x.astype(np.uint64) & _U((1 << order) - 1)
    y = y.astype(np.uint64) & _U((1 << order) - 1)
    d = np.zeros_like(x)
    s = _U(1) << _U(order - 1)
    one = _U(1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.uint64)
        ry = ((y & s) > 0).astype(np.uint64)
        d += s * s * ((_U(3) * rx) ^ ry)
        # rotate quadrant
        flip = (ry == 0) & (rx == 1)
        x_f = s - one - x
        y_f = s - one - y
        x = np.where(flip, x_f, x)
        y = np.where(flip, y_f, y)
        swap = ry == 0
        x, y = np.where(swap, y, x), np.where(swap, x, y)
        s >>= one
    return d


def hilbert2_inverse(d: np.ndarray, order: int = 31) -> tuple[np.ndarray, np.ndarray]:
    """Inverse transform (tests: round-trip property)."""
    d = d.astype(np.uint64)
    x = np.zeros_like(d)
    y = np.zeros_like(d)
    t = d.copy()
    one = _U(1)
    s = _U(1)
    top = _U(1) << _U(order)
    while s < top:
        rx = one & (t >> one)
        ry = one & (t ^ rx)
        flip = (ry == 0) & (rx == 1)
        x_f = s - one - x
        y_f = s - one - y
        x = np.where(flip, x_f, x)
        y = np.where(flip, y_f, y)
        swap = ry == 0
        x, y = np.where(swap, y, x), np.where(swap, x, y)
        x += s * rx
        y += s * ry
        t >>= _U(2)
        s <<= one
    return x, y


def _to_bits(v: np.ndarray, lo: float, hi: float, bits: int) -> np.ndarray:
    """Min/max-scale a numeric column into [0, 2^bits) rank space."""
    span = hi - lo
    if span <= 0:
        return np.zeros(len(v), dtype=np.uint64)
    scaled = (v.astype(np.float64) - lo) / span
    return np.clip(scaled * ((1 << bits) - 1), 0, (1 << bits) - 1).astype(np.uint64)


# ---------------------------------------------------------------------------
# Clustering key: FNV-1a is vectorized over the Arrow string buffers — one
# NumPy pass per byte position (doc ids are short), never per row.

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def fnv1a64(col) -> np.ndarray:
    """Vectorized FNV-1a 64 over a pyarrow string/binary Array or
    ChunkedArray; returns uint64 per row (nulls hash as empty)."""
    import pyarrow as pa

    chunks = col.chunks if isinstance(col, pa.ChunkedArray) else [col]
    if not chunks:
        return np.empty(0, np.uint64)
    outs = []
    with np.errstate(over="ignore"):
        for chunk in chunks:
            arr = chunk.cast(pa.large_binary())
            n = len(arr)
            if n == 0:
                outs.append(np.empty(0, np.uint64))
                continue
            offs = np.frombuffer(arr.buffers()[1], dtype=np.int64)[
                arr.offset : arr.offset + n + 1
            ]
            vals = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
            h = np.full(n, _FNV_OFFSET, np.uint64)
            lens = offs[1:] - offs[:-1]
            starts = offs[:-1]
            for i in range(int(lens.max()) if n else 0):
                mask = lens > i
                hm = h[mask]
                hm = (hm ^ vals[starts[mask] + i]) * _FNV_PRIME
                h[mask] = hm
            outs.append(h)
    return np.concatenate(outs) if len(outs) != 1 else outs[0]


def native_cluster_key(
    mode: str,
    numeric: np.ndarray,
    dim_hashes: list[np.ndarray],
    lo: float,
    hi: float,
) -> np.ndarray:
    """Clustering key from NumPy inputs: ``dim_hashes`` are uint64 hashes of
    the non-partition string dims (two -> 3-dim Morton, one -> 2-dim Morton
    or Hilbert; Hilbert keys the first hash only)."""
    if mode == "zorder" and len(dim_hashes) == 2:
        a = _to_bits(numeric, lo, hi, 21)
        return morton3(a, dim_hashes[0] >> _U(43), dim_hashes[1] >> _U(43)).astype(np.int64)
    if mode == "zorder":
        a = _to_bits(numeric, lo, hi, 31)
        return morton2(a, dim_hashes[0] >> _U(33)).astype(np.int64)
    if mode == "hilbert":
        a = _to_bits(numeric, lo, hi, 31)
        return hilbert2(a, dim_hashes[0] >> _U(33), order=31).astype(np.int64)
    raise ValueError(f"unknown clustering mode {mode!r}")
