"""Property-based tests (hypothesis) for the pure-math seams — the
parts whose failure modes are silent data corruption rather than
crashes: Bloom probe arithmetic (a false negative readmits duplicates),
filter sizing, and the MySQL type map (a narrowing conversion truncates
values on a 100 TB migration). All Spark-free: the properties cover the
exact numpy/python code the Spark operators ship to executors."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from clickhouse_mysql_data_reader_spark.operators.membership import (
    _positions,
    bloom_sizing,
)
from clickhouse_mysql_data_reader_spark.schema.typemap import map_type

int64s = st.integers(min_value=-(2**63), max_value=2**63 - 1)


def _build_bits(hashes: np.ndarray, num_bits: int, num_hashes: int) -> np.ndarray:
    """Mirror of build_bloom's per-partition kernel (same _positions)."""
    bits = np.zeros(num_bits // 8, dtype=np.uint8)
    for pos in _positions(hashes, num_bits, num_hashes):
        np.bitwise_or.at(
            bits,
            (pos // 8).astype(np.int64),
            np.uint8(1) << (pos % np.uint64(8)).astype(np.uint8),
        )
    return bits


def _probe_bits(bits: np.ndarray, hashes: np.ndarray, num_bits: int, num_hashes: int):
    """Mirror of might_contain's probe kernel."""
    hit = np.ones(len(hashes), dtype=bool)
    for pos in _positions(hashes, num_bits, num_hashes):
        byte = bits[(pos // 8).astype(np.int64)]
        hit &= (byte >> (pos % np.uint64(8)).astype(np.uint8)) & 1 == 1
    return hit


@settings(max_examples=200, deadline=None)
@given(
    keys=st.lists(int64s, min_size=1, max_size=200),
    num_hashes=st.integers(min_value=1, max_value=12),
    bits_pow=st.integers(min_value=6, max_value=16),
)
def test_bloom_never_false_negative(keys, num_hashes, bits_pow):
    """Bloom's hard guarantee, over arbitrary (including adversarial,
    duplicate, boundary) 64-bit hash inputs and any filter geometry:
    every inserted key probes True."""
    num_bits = 2**bits_pow
    h = np.array(keys, dtype=np.int64).view(np.uint64)
    bits = _build_bits(h, num_bits, num_hashes)
    assert _probe_bits(bits, h, num_bits, num_hashes).all()


@settings(max_examples=200, deadline=None)
@given(
    h=int64s,
    num_hashes=st.integers(min_value=1, max_value=16),
    bits_pow=st.integers(min_value=6, max_value=24),
)
def test_bloom_positions_in_range_and_deterministic(h, num_hashes, bits_pow):
    num_bits = 2**bits_pow
    arr = np.array([h], dtype=np.int64).view(np.uint64)
    p1 = [int(p[0]) for p in _positions(arr, num_bits, num_hashes)]
    p2 = [int(p[0]) for p in _positions(arr, num_bits, num_hashes)]
    assert p1 == p2
    assert all(0 <= p < num_bits for p in p1)


@settings(max_examples=100, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=10**9),
    fpp=st.floats(min_value=1e-6, max_value=0.5),
)
def test_bloom_sizing_sane(n, fpp):
    m, k = bloom_sizing(n, fpp)
    assert m % 8 == 0 and m >= 64 and k >= 1
    # more items at the same fpp can never shrink the filter
    m2, _ = bloom_sizing(n * 2, fpp)
    assert m2 >= m
    # a looser fpp can never grow it
    m3, _ = bloom_sizing(n, min(0.5, fpp * 10))
    assert m3 <= m


# numeric ranges orderable by (is_decimal, byte width); DecimalType(20,0)
# holds the full uint64 range, wider than LongType
_RANGE_RANK = {
    T.ByteType(): 1,
    T.ShortType(): 2,
    T.IntegerType(): 4,
    T.LongType(): 8,
    T.DecimalType(20, 0): 16,
}

_INT_BASES = ["tinyint", "smallint", "mediumint", "int", "integer", "bigint"]


@settings(max_examples=100, deadline=None)
@given(
    base=st.sampled_from(_INT_BASES),
    width=st.integers(min_value=1, max_value=30),
    spaces=st.integers(min_value=0, max_value=3),
    upper=st.booleans(),
)
def test_unsigned_widening_never_narrows(base, width, spaces, upper):
    """UNSIGNED must map to a STRICTLY wider Spark type than signed —
    a uint32 column crammed into IntegerType silently wraps negative on
    half its range. Display widths and case noise must not matter
    (MySQL <8.0.19 prints `bigint(20) unsigned`)."""
    pad = " " * spaces
    signed = map_type(f"{base}({width})" if width else base)
    uform = f"{base}({width}){pad}unsigned"
    if upper:
        uform = uform.upper()
    unsigned = map_type(uform)
    assert _RANGE_RANK[unsigned] > _RANGE_RANK[signed]
    # display width is cosmetic
    assert map_type(base) == signed


@settings(max_examples=100, deadline=None)
@given(
    prec=st.integers(min_value=1, max_value=99),
    scale=st.integers(min_value=0, max_value=99),
)
def test_decimal_mapping_clamped_and_parsed(prec, scale):
    dt = map_type(f"decimal({prec},{scale})")
    assert isinstance(dt, T.DecimalType)
    assert dt.precision == min(prec, 38) and dt.scale == min(scale, 38)


@settings(max_examples=200, deadline=None)
@given(garbage=st.text(min_size=0, max_size=30))
def test_unknown_types_never_raise(garbage):
    """The reference's default branch falls back to String for unknown
    types; ours must do the same for ANY input rather than crash a
    migration on an exotic column."""
    dt = map_type(garbage)
    assert dt is not None


from hypothesis import given as _given, settings as _settings
from hypothesis import strategies as _st


# ---------------------------------------------------------------------------
# schema drift lattice (schema/drift.py)
# ---------------------------------------------------------------------------

from clickhouse_mysql_data_reader_spark.schema.drift import _can_upcast as _upcast

_DRIFT_TYPES = [
    T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
    T.FloatType(), T.DoubleType(), T.StringType(), T.DateType(),
    T.TimestampType(), T.BooleanType(), T.BinaryType(),
    T.DecimalType(10, 2), T.DecimalType(12, 2), T.DecimalType(12, 4),
    T.DecimalType(20, 0), T.DecimalType(38, 10),
]


@_given(
    a=_st.sampled_from(_DRIFT_TYPES),
    b=_st.sampled_from(_DRIFT_TYPES),
    c=_st.sampled_from(_DRIFT_TYPES),
)
@_settings(max_examples=300, deadline=None)
def test_upcast_is_a_partial_order(a, b, c):
    # reflexive
    assert _upcast(a, a)
    # antisymmetric: mutually-safe implies identical
    if a != b:
        assert not (_upcast(a, b) and _upcast(b, a))
    # transitive: a lost-lessly fits b and b fits c => a fits c
    if _upcast(a, b) and _upcast(b, c):
        assert _upcast(a, c), f"transitivity broke: {a} -> {b} -> {c}"


@_given(
    a=_st.sampled_from(_DRIFT_TYPES),
    b=_st.sampled_from(_DRIFT_TYPES),
)
@_settings(max_examples=200, deadline=None)
def test_narrowing_is_never_safe(a, b):
    # every numeric widening has an unsafe reverse; equal types aside,
    # a safe a->b forbids dropping information on the way back
    if a != b and _upcast(a, b):
        assert not _upcast(b, a)
