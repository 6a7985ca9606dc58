"""Spark's ``xxhash64`` of a key, computed on the driver in pure Python.

A point lookup routes its key to a bucket and slot with the expression
the writers use, ``pmod(xxhash64(key columns), n)`` over each value cast
to its stored type. Planning that expression in Catalyst costs more than
the rest of the lookup. This module reproduces it for the value types
whose encoding is fixed (Spark's ``XxHash64`` in ``hash.scala`` over
``XXH64.java``): seed 42, chained over the columns (each column's hash is
the next one's seed), NULLs skipped;

- string (UTF8_BINARY collation): the UTF-8 bytes (``hashUnsafeBytes``);
- byte, short, int, date (epoch days), boolean (1/0): ``hashInt``;
- long, timestamp (epoch micros): ``hashLong``.

:func:`encode` accepts a value only when it already has the stored type
and is in range; for anything else it returns None and the caller keeps
Spark's own cast and hash.
"""

from __future__ import annotations

import datetime
import struct

from pyspark.sql import types as T

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_SEED = 42

_INT_RANGES = {
    T.ByteType: 1 << 7, T.ShortType: 1 << 15, T.IntegerType: 1 << 31,
    T.LongType: 1 << 63,
}


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _fmix(h: int) -> int:
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    return h ^ (h >> 32)


def _hash_int(v: int, seed: int) -> int:
    """``XXH64.hashInt``; ``seed`` and the result are unsigned 64-bit."""
    h = (seed + _P5 + 4) ^ (((v & 0xFFFFFFFF) * _P1) & _M)
    return _fmix((_rotl(h & _M, 23) * _P2 + _P3) & _M)


def _hash_long(v: int, seed: int) -> int:
    """``XXH64.hashLong``."""
    h = ((seed + _P5 + 8) & _M) ^ _round(0, v & _M)
    return _fmix((_rotl(h, 27) * _P1 + _P4) & _M)


def _hash_bytes(data: bytes, seed: int) -> int:
    """``XXH64.hashUnsafeBytes``: the reference XXH64 of ``data``."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed,
             (seed - _P1) & _M]
        while i <= n - 32:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, x) for a, x in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, lane), 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        (lane,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ ((lane * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    return _fmix(h)


def encode(value, dtype: T.DataType):
    """``(hash function, operand, key value)`` for ``value`` of stored type
    ``dtype``, or None when the value does not already have that type
    (in range) or the type is not covered. The key value is what the
    stored column holds: epoch micros for a timestamp, else ``value``.
    ``None`` encodes as a NULL, which the hash skips."""
    if value is None:
        return (None, None, None)
    kind = type(dtype)
    if kind is T.StringType:
        if type(value) is not str or dtype.collation != "UTF8_BINARY":
            return None
        try:
            return (_hash_bytes, value.encode("utf-8"), value)
        except UnicodeEncodeError:  # a lone surrogate
            return None
    if kind in _INT_RANGES:
        lim = _INT_RANGES[kind]
        if type(value) is not int or not -lim <= value < lim:
            return None
        return (_hash_long if kind is T.LongType else _hash_int, value, value)
    if kind is T.BooleanType:
        return (_hash_int, int(value), value) if type(value) is bool else None
    # dates and timestamps: on the way into the JVM Spark rebases old values
    # between the Julian and Gregorian calendars (dates before 1582,
    # timestamps before about 1900), so only values after 1900 take this path
    if kind is T.DateType:
        if type(value) is not datetime.date or value.year <= 1900:
            return None
        return (_hash_int, dtype.toInternal(value), value)
    if kind is T.TimestampType:
        if type(value) is not datetime.datetime or value.year <= 1900:
            return None
        micros = dtype.toInternal(value)
        return (_hash_long, micros, micros)
    return None


def xxhash64(encoded) -> int:
    """Spark's ``xxhash64`` over :func:`encode` results, as a signed long."""
    h = _SEED
    for fn, operand, _ in encoded:
        if fn is not None:
            h = fn(operand, h)
    return h - (1 << 64) if h >> 63 else h
