"""Spark's ``hash(...)`` expression (Murmur3_x86_32, seed 42) in pure Python.

`ParquetStateStore` puts every key in the directory
``__bucket=pmod(hash(key cols), n_buckets)``. A point lookup computes
the same bucket in the driver with this port, so it can open that one
directory without a Spark job. Ported from Spark's
``org.apache.spark.unsafe.hash.Murmur3_x86_32`` and the ``Murmur3Hash``
expression:

- boolean, byte, short, int and date hash as ``hashInt`` (a boolean as
  1 or 0, a date as days since the epoch);
- long and timestamp hash as ``hashLong`` (a timestamp as microseconds
  since the epoch);
- string (UTF-8 bytes) and binary hash with the legacy
  ``hashUnsafeBytes``: 4-byte little-endian words, then each tail byte
  mixed on its own, sign-extended;
- a composite key feeds each column's hash in as the seed of the next,
  and a NULL column leaves the running hash as it is.

Decimal, float, double and nested types have no port here
(`hashable` is False); the store reads every bucket for those keys.
"""

from __future__ import annotations

import struct
from typing import Any, Iterable

SEED = 42
_MASK = 0xFFFFFFFF
_C1 = 0xCC9E2D51
_C2 = 0x1B873593

_INT_TYPES = frozenset({"boolean", "byte", "short", "integer", "date"})
_LONG_TYPES = frozenset({"long", "timestamp", "timestamp_ntz"})
_BYTES_TYPES = frozenset({"string", "binary"})


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _MASK


def _mix_k1(k1: int) -> int:
    k1 = (k1 * _C1) & _MASK
    return (_rotl(k1, 15) * _C2) & _MASK


def _mix_h1(h1: int, k1: int) -> int:
    return (_rotl(h1 ^ k1, 13) * 5 + 0xE6546B64) & _MASK


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _MASK
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _MASK
    return h1 ^ (h1 >> 16)


def hash_int(value: int, seed: int) -> int:
    return _fmix(_mix_h1(seed & _MASK, _mix_k1(value & _MASK)), 4)


def hash_long(value: int, seed: int) -> int:
    h1 = _mix_h1(seed & _MASK, _mix_k1(value & _MASK))
    h1 = _mix_h1(h1, _mix_k1((value >> 32) & _MASK))
    return _fmix(h1, 8)


def hash_unsafe_bytes(data: bytes, seed: int) -> int:
    n = len(data)
    aligned = n - n % 4
    h1 = seed & _MASK
    for (word,) in struct.iter_unpack("<I", data[:aligned]):
        h1 = _mix_h1(h1, _mix_k1(word))
    for byte in data[aligned:]:
        h1 = _mix_h1(h1, _mix_k1((byte - 256 if byte > 127 else byte) & _MASK))
    return _fmix(h1, n)


def hashable(type_name: str) -> bool:
    """Whether a Spark type (``DataType.typeName()``) has a port here."""
    return type_name in _INT_TYPES or type_name in _LONG_TYPES or type_name in _BYTES_TYPES


def spark_hash(values: Iterable[Any], type_names: Iterable[str], seed: int = SEED) -> int:
    """``hash(c1, c2, ...)`` as Spark returns it (a signed 32-bit int).

    ``values`` are Spark's internal values: ``int`` for the integral
    types, ``bool`` for boolean, days for date, microseconds for
    timestamp, ``str`` or ``bytes`` for string and binary, ``None``
    for NULL."""
    h = seed & _MASK
    for value, name in zip(values, type_names):
        if value is None:
            continue
        if name in _LONG_TYPES:
            h = hash_long(value, h)
        elif name in _INT_TYPES:
            h = hash_int(int(value), h)
        elif name == "string":
            h = hash_unsafe_bytes(value.encode("utf-8"), h)
        elif name == "binary":
            h = hash_unsafe_bytes(bytes(value), h)
        else:
            raise TypeError(f"no Python murmur3 for Spark type {name!r}")
    return h - (1 << 32) if h & 0x80000000 else h


def bucket(values: Iterable[Any], type_names: Iterable[str], n_buckets: int) -> int:
    """``pmod(hash(...), n_buckets)``: Python's ``%`` is already
    non-negative for a positive divisor."""
    return spark_hash(values, type_names) % n_buckets
