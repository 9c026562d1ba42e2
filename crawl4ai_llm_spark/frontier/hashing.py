"""Murmur3 x86-32 on the driver — bit-identical to Spark's ``F.hash``.

Spark hashes UTF-8 bytes with Murmur3_x86_32, seed 42 (the engine's URL
hash, SURVEY.md §8.3 ruling). Two forms of the same function:

- ``spark_hash_str`` / ``murmur3_32``: the scalar pure-Python port, one
  string at a time. It is the reference: the oracle crawl simulator and
  the tests use it, so they agree with the Spark engine on every
  ``url_hash`` without a JVM.
- ``spark_hash_strs``: the numpy kernel the engine's driver tiers use, a
  whole string column per call (a pyarrow string array's offsets and
  data buffer, or a list of str). ``spark_buckets`` is the one
  driver-side bucket rule, ``pmod(hash, n)``: the scalar form for a few
  values, the kernel for more.

Public algorithm (Austin Appleby, public domain).
"""

from __future__ import annotations

import numpy as np

SPARK_SEED = 42
_MASK32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _MASK32


def _fmix32(h: int) -> int:
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _MASK32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _MASK32
    h ^= h >> 16
    return h


def murmur3_32(data: bytes, seed: int = SPARK_SEED) -> int:
    """Murmur3 x86-32 over bytes; returns SIGNED 32-bit int like Spark.

    Note: Spark processes the 4-byte tail blocks the same as full blocks?
    No — Spark's Murmur3_x86_32.hashUnsafeBytes processes tail bytes
    ONE AT A TIME (each as a signed byte "half block"), which differs from
    the canonical C++ tail handling. This port follows Spark.
    """
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h1 = seed & _MASK32
    n = len(data)
    n_blocks = n // 4
    for i in range(n_blocks):
        k1 = int.from_bytes(data[i * 4 : i * 4 + 4], "little")
        k1 = (k1 * c1) & _MASK32
        k1 = _rotl32(k1, 15)
        k1 = (k1 * c2) & _MASK32
        h1 ^= k1
        h1 = _rotl32(h1, 13)
        h1 = (h1 * 5 + 0xE6546B64) & _MASK32
    # Spark tail: each remaining byte hashed as its own int "block"
    # (sign-extended), mixing like a full block — see
    # Murmur3_x86_32.hashUnsafeBytes in Spark (public source).
    for i in range(n_blocks * 4, n):
        b = data[i]
        if b >= 128:
            b -= 256  # signed byte, as the JVM reads it
        k1 = (b * c1) & _MASK32
        k1 = _rotl32(k1, 15)
        k1 = (k1 * c2) & _MASK32
        h1 ^= k1
        h1 = _rotl32(h1, 13)
        h1 = (h1 * 5 + 0xE6546B64) & _MASK32
    h1 ^= n
    h1 = _fmix32(h1)
    if h1 >= 1 << 31:
        h1 -= 1 << 32
    return h1


def spark_hash_str(s: str) -> int:
    """Equivalent of Spark ``F.hash(string_col)`` for one Python string."""
    return murmur3_32(s.encode("utf-8"))


_U = {r: np.uint32(r) for r in (8, 13, 15, 16, 17, 19, 24)}
_C1, _C2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
_FMIX1, _FMIX2 = np.uint32(0x85EBCA6B), np.uint32(0xC2B2AE35)
_H_MUL, _H_ADD = np.uint32(5), np.uint32(0xE6546B64)


def _mix(h1: np.ndarray, k1: np.ndarray) -> np.ndarray:
    """One block into the running hash: mixK1 then mixH1, on uint32."""
    k1 *= _C1
    k1 = (k1 << _U[15]) | (k1 >> _U[17])
    k1 *= _C2
    h1 = h1 ^ k1
    h1 = (h1 << _U[13]) | (h1 >> _U[19])
    return h1 * _H_MUL + _H_ADD


def _string_array(values):
    """``values`` as one pyarrow (large_)string array, chunks combined."""
    import pyarrow as pa

    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    elif not isinstance(values, pa.Array):
        values = pa.array(values, pa.string())
    if not (pa.types.is_string(values.type) or pa.types.is_large_string(values.type)):
        raise TypeError(f"spark_hash_strs takes strings, not {values.type}")
    return values


def spark_hash_strs(values) -> np.ndarray:
    """``F.hash(string_col)`` of every value, as int32 — ``spark_hash_str``
    over a column at once. ``values``: a pyarrow string or large_string
    array (chunked, sliced or not) or a list of str; a null hashes to the
    seed, as ``F.hash`` leaves it.

    The 4-byte blocks are mixed for all strings together, one block index
    per step, over the strings still that long (sorted longest first, so
    they are a prefix); then Spark's tail rule — each leftover byte mixed
    as its own sign-extended block — and the finalizer. uint32 arithmetic
    wraps as the JVM's int does."""
    import pyarrow as pa

    arr = _string_array(values)
    n = len(arr)
    if n == 0:
        return np.empty(0, np.int32)
    _, offs_buf, data_buf = arr.buffers()
    width = 8 if pa.types.is_large_string(arr.type) else 4
    offs = np.frombuffer(
        offs_buf, np.int64 if width == 8 else np.int32, n + 1, arr.offset * width
    ).astype(np.int64)
    lo = int(offs[0])
    offs -= lo
    data = np.zeros(int(offs[-1]) + 3, np.uint32)  # 3 bytes of padding
    if data_buf is not None:
        data[: len(data) - 3] = np.frombuffer(data_buf, np.uint8, len(data) - 3, lo)
    # the little-endian word starting at every byte
    words = data[:-3] | data[1:-2] << _U[8] | data[2:-1] << _U[16] | data[3:] << _U[24]
    lens = offs[1:] - offs[:-1]
    blocks = lens // 4
    order = np.argsort(-blocks, kind="stable")
    starts_o, lens_o, blocks_o = offs[:-1][order], lens[order], blocks[order]
    h1 = np.full(n, SPARK_SEED, np.uint32)
    # active[j]: how many strings (a prefix of ``order``) have a block j
    active = np.searchsorted(-blocks_o, -np.arange(int(blocks_o[0])), "left")
    for j, m in enumerate(active):
        h1[:m] = _mix(h1[:m], words[starts_o[:m] + 4 * j])
    tails = lens_o - 4 * blocks_o
    for t in range(int(tails.max())):
        rows = np.flatnonzero(tails > t)
        byte = data[starts_o[rows] + 4 * blocks_o[rows] + t].astype(np.int8)
        h1[rows] = _mix(h1[rows], byte.astype(np.int32).view(np.uint32))
    h1 ^= lens_o.astype(np.uint32)
    h1 ^= h1 >> _U[16]
    h1 *= _FMIX1
    h1 ^= h1 >> _U[13]
    h1 *= _FMIX2
    h1 ^= h1 >> _U[16]
    out = np.empty(n, np.int32)
    out[order] = h1.view(np.int32)
    if arr.null_count:
        out[arr.is_null().to_numpy(zero_copy_only=False)] = SPARK_SEED
    return out


# inputs up to this many values hash one by one with spark_hash_str: the
# kernel's numpy set-up (~140 us) costs more than ~5 us a short string
SCALAR_HASH_MAX = 16


def spark_buckets(values, n: int) -> np.ndarray:
    """The driver-side bucket rule: ``pmod(hash(value), n)`` per value, as
    ``Table._write_files`` files a row under ``_bucket=K/`` — int64, and
    -1 for a null, which no bucket holds. Up to SCALAR_HASH_MAX values
    take the scalar ``spark_hash_str``, more the kernel."""
    if len(values) <= SCALAR_HASH_MAX:
        if not isinstance(values, list) or not all(isinstance(v, str) for v in values):
            values = _string_array(values).to_pylist()
        return np.array([-1 if v is None else spark_hash_str(v) % n for v in values], np.int64)
    arr = _string_array(values)
    out = np.mod(spark_hash_strs(arr).astype(np.int64), n)
    if arr.null_count:
        out[arr.is_null().to_numpy(zero_copy_only=False)] = -1
    return out
