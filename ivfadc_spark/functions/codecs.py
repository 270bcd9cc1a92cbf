"""Numpy-vectorized posting-block codecs: delta + varint (LEB128).

Analog of the reference's fixed-width posting packing — one posting =
``nsq+1`` uint32s ``[cell, code_0..code_{nsq-1}]``
(/root/reference/entry.cpp:60-72). We instead store docID-sorted deltas with
variable-byte encoding (and plain varint for tf / doclen payloads), which is
the standard full-text posting compression. All loops are vectorized over
numpy arrays — no per-element Python in the hot path (encode is O(max_bytes)
passes, decode is a single grouped bitwise pass).
"""

from __future__ import annotations

import numpy as np

_U7 = np.uint64(7)
_U0x7F = np.uint64(0x7F)


def varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a 1-D array, returning (stream, bytes-per-value).

    Fast paths: all-1-byte (values < 2^7 — tf/dl payloads almost always) is a
    single cast; all-≤2-byte (values < 2^14 — sharded docID deltas almost
    always) is two vectorized writes; all-≤3-byte (values < 2^21 — block-head
    absolute doc ids in chunk-local ranges) is three. General LEB128 loop
    otherwise.
    """
    a = np.ascontiguousarray(values, dtype=np.uint64)
    n = a.shape[0]
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    if a.ndim != 1:
        raise ValueError("varint_encode expects 1-D input")
    mx = int(a.max())
    if mx < 1 << 7:
        return a.astype(np.uint8).tobytes(), np.ones(n, dtype=np.int64)
    if mx < 1 << 14:
        two = a >= np.uint64(1 << 7)
        nb = 1 + two.astype(np.int64)
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(nb[:-1], out=starts[1:])
        out = np.empty(int(nb.sum()), dtype=np.uint8)
        lo = (a & _U0x7F).astype(np.uint8)
        out[starts] = np.where(two, lo | np.uint8(0x80), lo)
        t = np.flatnonzero(two)
        out[starts[t] + 1] = (a[t] >> _U7).astype(np.uint8)
        return out.tobytes(), nb
    if mx < 1 << 21:
        nb = (
            1
            + (a >= np.uint64(1 << 7)).astype(np.int64)
            + (a >= np.uint64(1 << 14)).astype(np.int64)
        )
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(nb[:-1], out=starts[1:])
        out = np.empty(int(nb.sum()), dtype=np.uint8)
        lo = (a & _U0x7F).astype(np.uint8)
        out[starts] = np.where(nb > 1, lo | np.uint8(0x80), lo)
        t2 = np.flatnonzero(nb >= 2)
        mid = ((a[t2] >> _U7) & _U0x7F).astype(np.uint8)
        out[starts[t2] + 1] = np.where(nb[t2] > 2, mid | np.uint8(0x80), mid)
        t3 = np.flatnonzero(nb == 3)
        out[starts[t3] + 2] = (a[t3] >> np.uint64(14)).astype(np.uint8)
        return out.tobytes(), nb
    return _varint_encode_general(a)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a 1-D array of non-negative ints, vectorized."""
    return varint_encode_with_lengths(values)[0]


def _varint_encode_general(a: np.ndarray) -> tuple[bytes, np.ndarray]:
    n = a.shape[0]
    # bytes needed per value
    nb = np.ones(n, dtype=np.int64)
    tmp = a >> _U7
    while tmp.any():
        nb += (tmp > 0).astype(np.int64)
        tmp = tmp >> _U7
    total = int(nb.sum())
    out = np.zeros(total, dtype=np.uint8)
    # start offset of each value's byte run
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nb[:-1], out=starts[1:])
    remaining = a.copy()
    idx = starts.copy()
    active = np.ones(n, dtype=bool)
    while True:
        act = np.flatnonzero(active)
        if act.size == 0:
            break
        cur = remaining[act]
        nxt = cur >> _U7
        cont = nxt > 0
        out[idx[act]] = (cur & _U0x7F).astype(np.uint8) | (
            cont.astype(np.uint8) << np.uint8(7)
        )
        idx[act] += 1
        remaining[act] = nxt
        active[act[~cont]] = False
    return out.tobytes(), nb


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte count per value (vectorized) — lets callers split one
    concatenated varint_encode stream into per-block byte ranges."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    if a.size == 0:
        return np.zeros(0, dtype=np.int64)
    mx = int(a.max())
    if mx < 1 << 7:
        return np.ones(a.shape[0], dtype=np.int64)
    if mx < 1 << 14:
        return 1 + (a >= np.uint64(1 << 7)).astype(np.int64)
    nb = np.ones(a.shape[0], dtype=np.int64)
    tmp = a >> _U7
    while tmp.any():
        nb += (tmp > 0).astype(np.int64)
        tmp = tmp >> _U7
    return nb


def varint_decode(buf: bytes, expected: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes to uint64 array, vectorized via ufunc.at."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    n = ends.size
    # value index of each byte
    gid = np.zeros(b.size, dtype=np.int64)
    gid[1:] = np.cumsum(is_last[:-1])
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = ends[:-1] + 1
    shift = (np.arange(b.size, dtype=np.int64) - starts[gid]).astype(np.uint64) * _U7
    contrib = (b.astype(np.uint64) & _U0x7F) << shift
    vals = np.zeros(n, dtype=np.uint64)
    np.bitwise_or.at(vals, gid, contrib)
    if expected is not None and n != expected:
        raise ValueError(f"varint_decode: expected {expected} values, got {n}")
    return vals


def delta_encode(sorted_ids: np.ndarray) -> bytes:
    """Delta + varint encode a strictly-increasing int64 docID array."""
    a = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    if a.size == 0:
        return b""
    d = np.empty(a.size, dtype=np.uint64)
    d[0] = np.uint64(a[0])
    if a.size > 1:
        diffs = np.diff(a)
        if (diffs <= 0).any():
            raise ValueError("delta_encode requires strictly increasing docIDs")
        d[1:] = diffs.astype(np.uint64)
    return varint_encode(d)


def delta_decode_runs(buf, counts) -> np.ndarray:
    """Absolute int64 values of concatenated delta-varint runs whose first
    value is absolute (``counts[i]`` values in run i) — one segmented
    cumsum reset at every run start. A posting block is one run; a
    positional twin row holds one run per posting (tf offsets each)."""
    counts = np.asarray(counts, dtype=np.int64)
    c = np.cumsum(varint_decode(buf, int(counts.sum())).astype(np.int64))
    if c.size == 0:
        return c
    starts = np.cumsum(counts) - counts
    base = np.where(starts > 0, c[starts - 1], 0)
    return c - np.repeat(base, counts)


def delta_decode(buf: bytes, expected: int | None = None) -> np.ndarray:
    """Inverse of :func:`delta_encode` — returns int64 docIDs; the one-run
    case of :func:`delta_decode_runs`."""
    if expected is None:
        expected = int(np.count_nonzero(np.frombuffer(buf, dtype=np.uint8) < 0x80))
    return delta_decode_runs(buf, [expected])
