"""Pure-Python XXH64 matching Spark's ``xxhash64`` expression.

Spark's ``F.xxhash64(string_col)`` is XXH64 over the UTF-8 bytes with
seed 42, returned as a signed int64.  Implementing it driver-side (the
public XXH64 spec) lets query routing compute term buckets without a
Spark job; a test asserts bit-identity against the Spark expression.
"""

from __future__ import annotations

import struct

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, x: int) -> int:
    acc = (acc + x * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            x1, x2, x3, x4 = struct.unpack_from("<QQQQ", data, i)
            v1 = _round(v1, x1)
            v2 = _round(v2, x2)
            v3 = _round(v3, x3)
            v4 = _round(v4, x4)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (k1,) = struct.unpack_from("<Q", data, i)
        h ^= _round(0, k1)
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h ^= (k * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def spark_xxhash64_str(s: str) -> int:
    """Signed int64, identical to Spark's xxhash64(string)."""
    h = xxh64(s.encode("utf-8"), 42)
    return h - (1 << 64) if h >= (1 << 63) else h


def spark_xxhash64_long(v: int) -> int:
    """Signed int64, identical to Spark's xxhash64(bigint)."""
    h = xxh64(struct.pack("<q", v), 42)
    return h - (1 << 64) if h >= (1 << 63) else h


def pmod(x: int, m: int) -> int:
    return x % m if x >= 0 else (x % m + m) % m


def spark_mmh3_int(v: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of one IntegerType value (hashInt,
    seed 42) - the hash behind ``HashPartitioning``, so the driver can
    predict which shuffle partition an int key lands in.  Bit-tested
    against ``F.hash``."""
    M = 0xFFFFFFFF
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = (v & M) * c1 & M
    k = ((k << 15) | (k >> 17)) & M
    k = k * c2 & M
    h = (seed ^ k) & M
    h = ((h << 13) | (h >> 19)) & M
    h = (h * 5 + 0xE6546B64) & M
    h ^= 4  # length in bytes
    h ^= h >> 16
    h = h * 0x85EBCA6B & M
    h ^= h >> 13
    h = h * 0xC2B2AE35 & M
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


import functools


@functools.lru_cache(maxsize=64)
def partition_keys(parts: int) -> tuple[int, ...]:
    """``keys[p]`` is the smallest int that Spark's hash partitioning
    (``pmod(Murmur3(int), parts)``) sends to partition ``p``: a
    key->partition table that lets a shuffle place id ``c`` on
    partition ``c % parts`` exactly (:func:`cell_partition_key`)."""
    keys: list = [None] * parts
    left = parts
    k = 0
    while left:
        p = pmod(spark_mmh3_int(k), parts)
        if keys[p] is None:
            keys[p] = k
            left -= 1
        k += 1
    return tuple(keys)


def cell_partition_key(cell, parts: int):
    """Shuffle key for ``repartition(parts, key)`` that sends the int
    id column ``cell`` to partition ``cell % parts``: the id picks its
    partition's entry of :func:`partition_keys` through a literal
    array, evaluated in the JVM.  The index writer keys it by bucket,
    so a bucket's salt cells meet in one task.  Hashing the ids
    directly put several on one reducer and left others idle (4 of 16
    build tasks got 4 cells / none); with this map every partition
    gets floor or ceil of ids/parts."""
    from pyspark.sql import functions as F

    keys = F.array(*[F.lit(k) for k in partition_keys(parts)])
    return F.element_at(keys, cell % parts + 1).cast("int")


def spark_xxhash64_str_vec(data, offsets, seed=42):
    """Vectorized :func:`spark_xxhash64_str` over many UTF-8 strings
    in Arrow string layout: ``data`` holds the concatenated bytes and
    string ``i`` is ``data[offsets[i]:offsets[i + 1]]``.  Every XXH64
    step runs as uint64 numpy lanes over the strings that still have
    input (32-byte stripes, then 8-, 4- and 1-byte tails, then the
    avalanche); unaligned 8/4-byte reads are strided views over a
    zero-padded copy of ``data``.  ``seed`` is one scalar or an array
    with one seed per string (uint64, or the int64 this function
    returns, taken as its bits): Spark hashes an array of strings
    by chaining, each element's XXH64 seeded with the previous hash
    (the first with 42), so ``xxhash64(array(a, b))`` is
    ``spark_xxhash64_str_vec(b, seed=spark_xxhash64_str_vec(a))``.
    Bit-identical to the scalar :func:`xxh64` (tested for every length
    0..70, per-lane seeds, and against ``F.xxhash64`` of strings and
    of string arrays).  Returns signed int64."""
    import numpy as np

    P1 = np.uint64(_P1)
    P2 = np.uint64(_P2)
    P3 = np.uint64(_P3)
    P4 = np.uint64(_P4)
    P5 = np.uint64(_P5)

    def rotl(x, r):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

    def rnd(acc, x):
        return rotl(acc + x * P2, 31) * P1

    offs = np.asarray(offsets, np.int64)
    starts = offs[:-1] - offs[0]
    lens = np.diff(offs)
    raw = np.frombuffer(data, np.uint8)[offs[0] : offs[-1]]
    buf = np.zeros(raw.size + 8, np.uint8)
    buf[: raw.size] = raw
    # element i of u64/u32 reads buf[i:i+8] / buf[i:i+4], little-endian
    u64 = np.ndarray((raw.size + 1,), "<u8", buf, 0, (1,))
    u32 = np.ndarray((raw.size + 1,), "<u4", buf, 0, (1,))

    seed = np.broadcast_to(np.asarray(seed, np.uint64), lens.shape)
    nstripes = lens // 32
    pos = starts + nstripes * 32
    rem = lens - nstripes * 32
    with np.errstate(over="ignore"):
        h = seed + P5
        big = np.flatnonzero(nstripes)
        if big.size:
            s0 = starts[big]
            ns = nstripes[big]
            v = [seed[big] + np.uint64(a & _M) for a in (_P1 + _P2, _P2, 0, -_P1)]
            for k in range(int(ns.max())):
                a = np.flatnonzero(ns > k)
                base = s0[a] + 32 * k
                for j in range(4):
                    v[j][a] = rnd(v[j][a], u64[base + 8 * j])
            hb = rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)
            for vj in v:
                hb = (hb ^ rnd(np.uint64(0), vj)) * P1 + P4
            h[big] = hb
        h += lens.astype(np.uint64)
        for _ in range(3):  # at most three 8-byte words after the stripes
            a = np.flatnonzero(rem >= 8)
            if not a.size:
                break
            h[a] = rotl(h[a] ^ rnd(np.uint64(0), u64[pos[a]]), 27) * P1 + P4
            pos[a] += 8
            rem[a] -= 8
        a = np.flatnonzero(rem >= 4)
        h[a] = rotl(h[a] ^ (u32[pos[a]].astype(np.uint64) * P1), 23) * P2 + P3
        pos[a] += 4
        rem[a] -= 4
        for _ in range(3):
            a = np.flatnonzero(rem > 0)
            if not a.size:
                break
            h[a] = rotl(h[a] ^ (buf[pos[a]].astype(np.uint64) * P5), 11) * P1
            pos[a] += 1
            rem[a] -= 1
        h ^= h >> np.uint64(33)
        h *= P2
        h ^= h >> np.uint64(29)
        h *= P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def spark_xxhash64_long_vec(v):
    """Vectorized :func:`spark_xxhash64_long` over an int64 numpy
    array (one fixed 8-byte lane: the XXH64 short path specializes to
    a handful of uint64 multiply/rotate/xor steps, which numpy wraps
    mod 2^64 natively).  Bit-identical to the scalar (tested)."""
    import numpy as np

    P1 = np.uint64(_P1)
    P2 = np.uint64(_P2)
    P3 = np.uint64(_P3)
    P4 = np.uint64(_P4)

    def rotl(x, r):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

    x = np.ascontiguousarray(v, dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        h = np.uint64((42 + _P5 + 8) & _M)
        k1 = rotl(x * P2, 31) * P1
        h = h ^ k1
        h = rotl(h, 27) * P1 + P4
        h ^= h >> np.uint64(33)
        h = h * P2
        h ^= h >> np.uint64(29)
        h = h * P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)
