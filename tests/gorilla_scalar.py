"""Scalar Gorilla decoders: the test twins of the vectorized decoders in
``mpnsm_spark.operators.gorilla``.

Each walks the bitstream token by token with a sequential bit reader — the
straightforward reading of the format — so ``test_gorilla.py`` can pin the
two-pass vectorized decoders to it bit for bit.
"""

from __future__ import annotations

import numpy as np

from mpnsm_spark.operators.gorilla import _TS_CLASSES


class _BitReader:
    """Sequential MSB-first bit reader over a packed blob (decode path).

    O(1) reads via a precomputed 64-bit big-endian window at every byte
    offset (one vectorized pass at construction), so decoding costs a few
    integer ops per TOKEN instead of a Python loop per BIT — ~30× faster on
    real streams. Plain Python ints afterwards (list indexing beats numpy
    scalar indexing in a scalar loop).
    """

    __slots__ = ("win", "tail", "pos")

    _MASK = (1 << 64) - 1

    def __init__(self, blob: bytes):
        b = np.concatenate(
            [np.frombuffer(blob, np.uint8), np.zeros(16, np.uint8)]
        )
        self.win = (
            np.lib.stride_tricks.sliding_window_view(b, 8)
            .copy()
            .view(">u8")
            .ravel()
            .tolist()
        )
        self.tail = b.tolist()
        self.pos = 0

    def read(self, n: int) -> int:
        p = self.pos
        q, r = p >> 3, p & 7
        w = self.win[q]
        if r:
            w = ((w << r) & self._MASK) | (self.tail[q + 8] >> (8 - r))
        self.pos = p + n
        return w >> (64 - n)


def _decode_timestamps_scalar(blob: bytes, n: int) -> np.ndarray:
    """Scalar twin of ``gorilla.decode_timestamps``."""
    if n == 0:
        return np.empty(0, np.int64)
    first = int.from_bytes(blob[:8], "big", signed=True)
    r = _BitReader(blob[8:])
    read = r.read
    delta, cur = 0, first
    out = [first]
    append = out.append
    for _ in range(n - 1):
        if read(1):
            for _prefix, _pbits, vbits in _TS_CLASSES:
                if read(1) == 0:
                    z = read(vbits)
                    break
            else:
                z = read(64)
            delta += (z >> 1) ^ -(z & 1)
        cur += delta
        append(cur)
    return np.array(out, dtype=np.int64)


def _decode_values_scalar(blob: bytes, n: int) -> np.ndarray:
    """Scalar twin of ``gorilla.decode_values``."""
    if n == 0:
        return np.empty(0, np.float64)
    first = int.from_bytes(blob[:8], "big")
    r = _BitReader(blob[8:])
    read = r.read
    prev = first
    out = [first]
    append = out.append
    for _ in range(n - 1):
        if read(1):
            hdr = read(11)  # lead(5) + (mlen-1)(6) in one window read
            mlen = (hdr & 63) + 1
            payload = read(mlen)
            prev ^= payload << (64 - (hdr >> 6) - mlen)
        append(prev)
    return np.array(out, dtype=np.uint64).view(np.float64)
