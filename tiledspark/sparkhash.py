"""Spark's `xxhash64` computed on the driver, without a Spark job.

`F.xxhash64(col)` is XXH64 with seed 42 over the value's bytes, and the
bytes depend on the Spark type: UTF-8 for strings, the raw bytes for
binary, 4 little-endian bytes for boolean/byte/short/int/date (Spark hashes
them as an int; a date is its day number), and 8 little-endian bytes for
bigint/timestamp (a long; a timestamp is its microseconds since the epoch).
`xxhash64(value, spark_type)` reproduces it for exactly those types,
`KEY_TYPES`; the snapshot store refuses an index key of any other type, so
its point lookups can find the key's index partition without a job.
"""

from __future__ import annotations

import struct

from pyspark.sql.types import DateType, TimestampType

_INT_TYPES = {"boolean", "tinyint", "smallint", "int", "date"}
_LONG_TYPES = {"bigint", "timestamp"}
KEY_TYPES = frozenset({"string", "binary"} | _INT_TYPES | _LONG_TYPES)

SEED = 42
_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data: bytes) -> int:
    """XXH64 of data with Spark's seed, as a signed 64-bit int (Spark's
    LongType result)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(SEED + _P1 + _P2) & _M, (SEED + _P2) & _M, SEED, (SEED - _P1) & _M]
        while i <= n - 32:
            v = [_round(a, b) for a, b in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M
    else:
        h = SEED + _P5
    h = (h + n) & _M
    while i <= n - 8:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _M
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
    return h - (1 << 64) if h >> 63 else h


def internal_value(value, spark_type: str):
    """value as Spark holds it for spark_type: a str, bytes, bool or int
    (a date as days and a timestamp as microseconds since the epoch, with
    F.lit's conversion of a naive datetime)."""
    if spark_type == "string":
        return str(value)
    if spark_type == "binary":
        return bytes(value)
    if spark_type == "boolean":
        return bool(value)
    if spark_type == "date":
        return DateType().toInternal(value)
    if spark_type == "timestamp":
        return TimestampType().toInternal(value)
    if spark_type in _INT_TYPES | _LONG_TYPES:
        return int(value)
    raise ValueError(f"no driver-side xxhash64 for Spark type {spark_type!r}")


def xxhash64(value, spark_type: str) -> int:
    """F.xxhash64(F.lit(value).cast(spark_type)) for a non-null value."""
    v = internal_value(value, spark_type)
    if spark_type == "string":
        return xxh64(v.encode("utf-8"))
    if spark_type == "binary":
        return xxh64(v)
    return xxh64(struct.pack("<i" if spark_type in _INT_TYPES else "<q", int(v)))
