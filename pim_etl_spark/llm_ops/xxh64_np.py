"""Vectorized (numpy) twin of Spark's XXH64 expression kernels.

Spark's ``xxhash64(...)`` expression (catalyst XxHash64, seed 42) folds
its children left-to-right: ``hash = seed; for child: hash =
XXH64.hash<Type>(value, hash)``. For fixed-width children it never
touches the byte-stream path — an int child goes through ``hashInt``
and a long child through ``hashLong``, each a closed-form sequence of
64-bit multiplies/rotates/xors. Those two kernels are reproduced here
on uint64 numpy arrays (two's-complement bit-identical to the JVM's
signed longs), so a ``mapInPandas`` stage can compute MinHash
coordinates ``xxhash64(lit(i), sbase)`` and band keys
``xxhash64(h_a, h_b, h_c)`` with values bit-equal to the JVM
expressions (pinned by tests/test_llm_ops.py against the
live expressions).

Constants and structure follow the published XXH64 specification
(github.com/Cyan4973/xxHash) as specialized by Spark for 4- and 8-byte
inputs.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

SPARK_SEED = np.uint64(42)

# numpy intentionally wraps fixed-width integer arithmetic (that IS the
# JVM semantics we want); silence the overflow warnings locally.
_quiet = np.errstate(over="ignore")


def _rotl(x: np.ndarray | np.uint64, r: int):
    rr = np.uint64(r)
    return (x << rr) | (x >> np.uint64(64 - r))


def _fmix(h):
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def hash_long(value, seed):
    """XXH64.hashLong — Spark's kernel for an 8-byte input.

    ``value`` may be a uint64 numpy array or scalar; ``seed`` likewise
    (broadcasting applies). Returns uint64 of the broadcast shape.
    """
    with _quiet:
        h = seed + _P5 + np.uint64(8)
        k1 = _rotl(value * _P2, 31) * _P1
        h = h ^ k1
        h = _rotl(h, 27) * _P1 + _P4
        return _fmix(h)


def hash_int(value, seed):
    """XXH64.hashInt — Spark's kernel for a 4-byte input (e.g. an
    IntegerType literal child). ``value`` must already be the
    zero-extended unsigned 32-bit pattern."""
    with _quiet:
        h = seed + _P5 + np.uint64(4)
        h = h ^ (np.uint64(value) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        return _fmix(h)


def coordinate_seeds(n: int) -> np.ndarray:
    """Seeds such that ``hash_long(sbase, seeds[i])`` ==
    ``xxhash64(lit(i), sbase)`` for IntegerType literal ``i`` —
    the left fold's state after hashing the literal child."""
    return np.array([hash_int(np.uint64(i), SPARK_SEED) for i in range(n)], dtype=np.uint64)
