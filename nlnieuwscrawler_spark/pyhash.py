"""Pure-Python + numpy reimplementations of the engine's hash functions.

``spark_murmur3_32`` reproduces Spark's ``F.hash`` (Murmur3_x86_32 over
UTF-8 bytes, seed 42, Spark's byte-at-a-time signed tail handling — the
public algorithm from org.apache.spark.unsafe.hash.Murmur3_x86_32) so the
pure-Python oracle crawler computes fingerprints bit-identical to the Spark
engine. Verified against ``F.hash`` in tests/test_hash.py.

``bloom_positions`` derives k bit positions from a 64-bit fingerprint via
splitmix64 + Kirsch-Mitzenmacher double hashing — numpy-vectorized so the
Bloom probe pandas UDF stays Arrow-batch fast.
"""

from __future__ import annotations

import numpy as np

from nlnieuwscrawler_spark import spec

_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = _rotl32(k1, 15)
    return (k1 * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl32(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1


def spark_murmur3_32(data: bytes | str, seed: int = 42) -> int:
    """Spark-compatible Murmur3_x86_32; returns SIGNED int32 like F.hash."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    h1 = seed & _M32
    n = len(data)
    rounded = n & ~3
    for i in range(0, rounded, 4):
        half = int.from_bytes(data[i : i + 4], "little")
        h1 = _mix_h1(h1, _mix_k1(half))
    for i in range(rounded, n):
        b = data[i]
        if b >= 128:  # Java bytes are signed; sign-extend
            b -= 256
        h1 = _mix_h1(h1, _mix_k1(b & _M32))
    out = _fmix(h1, n)
    return out - (1 << 32) if out >= (1 << 31) else out


def url_fingerprint_py(url: str) -> int:
    """Bit-identical twin of functions.urls.url_fingerprint (signed int64).

    Salt is a PREFIX (see the urls.py docstring: suffix salting collapses
    the pair to an effective 32-bit fingerprint for same-length URLs)."""
    h1 = spark_murmur3_32(url)
    h2 = spark_murmur3_32(spec.FP_SALT + url)
    fp = ((h1 << 32) | (h2 & 0xFFFFFFFF)) & 0xFFFFFFFFFFFFFFFF
    return fp - (1 << 64) if fp >= (1 << 63) else fp


# --- Bloom-filter hashing (numpy, vectorized) -------------------------------

def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant mix)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9))
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB))
    return x ^ (x >> np.uint64(31))


def bloom_positions(fps: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """(len(fps), n_hashes) bit positions via double hashing g_i = h1 + i*h2."""
    u = fps.astype(np.int64).view(np.uint64)
    h1 = _splitmix64(u)
    h2 = _splitmix64(u ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
    i = np.arange(n_hashes, dtype=np.uint64)
    pos = (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(n_bits)
    return pos
