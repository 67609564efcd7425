"""Seeded xxhash64 column builder (r14).

Spark's ``F.xxhash64(*cols)`` pins the seed at 42 and folds multiple
fields by chaining: each field's hash runs with the running hash as its
seed. The minhash signature family ``xxhash64(lit(i), sh)`` therefore
pays TWO xxh64 block rounds per shingle per hash index — one to fold
the constant ``i``, one for the data — although the first round is a
constant per ``i``:

    xxhash64(lit(i), col) == XxHash64(children=[col], seed=xxh64_int(i, 42))

The catalyst ``XxHash64`` expression accepts an explicit seed; it just
has no public API surface. ``xxhash64_seeded`` builds it over py4j in
classic mode (bit-identical by the chaining law above, asserted in
tests/test_llm.py and measured 0 mismatches over 100k rows in
scripts/probe_xxhash_r14.py) and ``prefixed_xxhash64`` falls back to
the plain two-field form — the exact same values, twice the hash work —
when the internals are unavailable (Spark Connect, refactors).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_MASK = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def xxh64_int(value: int, seed: int = 42) -> int:
    """XXH64 of one 4-byte int — Spark XXH64.hashInt (the per-field
    step an IntegerType literal like ``F.lit(i)`` contributes)."""
    h = (seed + _P5 + 4) & _MASK
    h ^= ((value & 0xFFFFFFFF) * _P1) & _MASK
    h = ((_rotl(h, 23) * _P2) + _P3) & _MASK
    return _fmix(h)


def xxh64_long(value: int, seed: int = 42) -> int:
    """XXH64 of one 8-byte long — Spark XXH64.hashLong."""
    value &= _MASK
    h = (seed + _P5 + 8) & _MASK
    k1 = (_rotl((value * _P2) & _MASK, 31) * _P1) & _MASK
    h ^= k1
    h = ((_rotl(h, 27) * _P1) + _P4) & _MASK
    return _fmix(h)


def _to_signed(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


_SEEDED_OK: bool | None = None

# JVM handle cache: resolving ``jvm.org.apache.spark...`` costs one
# py4j round-trip PER PACKAGE COMPONENT, and the minhash family builds
# 64 of these expressions per query — measured 6012 round-trips /
# 2.8 s of the query's total 3.0 s at sf0.1 (driver-side work, guide
# §5). Resolve the three handles once per JVM gateway and reuse them;
# keyed on the gateway's jvm view so a stopped/restarted JVM rebuilds.
_JVM_HANDLES: tuple | None = None


class _NoJvmClass(Exception):
    """A JVM class the seeded path needs is absent from this Spark."""


def _seeded_handles():
    """(jvm, ExpressionUtils, XxHash64, PythonUtils) for the active
    gateway, cached; None when no active classic session (or no JVM)
    exists yet. Raises ``_NoJvmClass`` when a class is missing."""
    global _JVM_HANDLES
    from py4j.java_gateway import JavaClass
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        return None
    if _JVM_HANDLES is not None and _JVM_HANDLES[0] is jvm:
        return _JVM_HANDLES
    classes = (
        jvm.org.apache.spark.sql.classic.ExpressionUtils,
        jvm.org.apache.spark.sql.catalyst.expressions.XxHash64,
        jvm.PythonUtils,
    )
    if not all(isinstance(c, JavaClass) for c in classes):
        raise _NoJvmClass  # py4j resolves an unknown name to a package
    _JVM_HANDLES = (jvm, *classes)
    return _JVM_HANDLES


def xxhash64_seeded(col: Column, seed: int) -> Column | None:
    """``XxHash64([col], seed)`` built via the classic-mode internals;
    None when the construction isn't available in this deployment."""
    out = seeded_xxhash64_family(col, [seed])
    return out[0] if out is not None else None


def seeded_xxhash64_family(
    col: Column, seeds: list[int]
) -> list[Column] | None:
    """One ``XxHash64([col], seed)`` column per seed, sharing a single
    resolved child expression (2 py4j round-trips per member instead
    of ~20 — catalyst expressions are immutable, so the shared child
    instance is safe). None when the internals are unavailable.

    Only a missing module or JVM class (Spark Connect, a refactored
    Spark) disables the fast path for the rest of the process. No
    active session yet, or any other failure, returns None for THIS
    call only, so a later call with a live session still takes it."""
    global _SEEDED_OK, _JVM_HANDLES
    if _SEEDED_OK is False:
        return None
    try:
        from pyspark.sql.classic.column import (
            Column as CCol,
            _to_java_column,
        )
    except ImportError:
        _SEEDED_OK = False
        return None
    for _attempt in (0, 1):
        try:
            handles = _seeded_handles()
            if handles is None:
                return None
            _jvm, utils, jxxh, pyutils = handles
            child = utils.expression(_to_java_column(col))
            seq = pyutils.toSeq([child])
            out = [
                CCol(utils.column(jxxh(seq, _to_signed(s & _MASK))))
                for s in seeds
            ]
            _SEEDED_OK = True
            return out
        except _NoJvmClass:
            _SEEDED_OK = False
            return None
        except Exception:  # noqa: BLE001 — fall back for this call
            # a restarted JVM leaves stale handles: drop them and retry
            # once
            _JVM_HANDLES = None
    return None


def prefixed_xxhash64(prefix: int, col: Column) -> Column:
    """Bit-identical to ``F.xxhash64(F.lit(prefix), col)`` — the
    minhash signature family — with the constant prefix pre-folded
    into the seed so each row pays ONE xxh64 round instead of two."""
    seeded = xxhash64_seeded(col, xxh64_int(prefix, 42))
    if seeded is not None:
        return seeded
    return F.xxhash64(F.lit(prefix), col)


def prefixed_xxhash64_family(
    prefixes: list[int], col: Column
) -> list[Column]:
    """Bit-identical to ``[F.xxhash64(F.lit(p), col) for p in
    prefixes]`` with the constant prefixes pre-folded into seeds and
    the JVM handles resolved once for the whole family (the 64-member
    minhash family previously paid ~20 driver round-trips per member
    building its expressions)."""
    seeds = [xxh64_int(p, 42) for p in prefixes]
    out = seeded_xxhash64_family(col, seeds)
    if out is not None:
        return out
    return [F.xxhash64(F.lit(p), col) for p in prefixes]
