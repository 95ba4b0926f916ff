"""Round-10 regressions: the four round-9 ADVICE findings plus the
run-container WRITE path (VERDICT round-10 item 3).

- iceberg_export bucket fields must NOT claim the spec's murmur3
  ``bucket[N]`` transform (engine buckets with xxhash64; a
  spec-compliant reader would mis-prune) — pinned in
  tests/test_iceberg_export.py;
- puffin run-container decode must reject runs escaping the 16-bit
  container space (untrusted-DV ingestion point);
- _tau_fraction must never exceed the float tau (PPJoin exactness);
- _exact_jaccard_pairs must not leak persisted frames across calls;
- _serialize_roaring32 applies the optimal-container rule (run when
  strictly smaller) and the result round-trips through BOTH the
  package reader and the independent spec decoder.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_v2_to_v3_upgrade_spark.tables.puffin_io import (
    _serialize_roaring32,
    deserialize_deletion_vector,
    serialize_deletion_vector,
)
from iceberg_v2_to_v3_upgrade_spark.tables.puffin_io import (
    _deserialize_roaring32,
)
from iceberg_v2_to_v3_upgrade_spark.operators.dedup import _tau_fraction

from tests.conftest import SF_SMALL


# --------------------------------------------- run-container WRITE path


def test_dense_values_choose_run_container():
    buf = _serialize_roaring32(list(range(5000)))
    (cookie,) = struct.unpack_from("<I", buf, 0)
    assert cookie & 0xFFFF == 12347
    # one container, run-encoded: 4B cookie + 1B bitset + 4B header +
    # (2B n_runs + 4B run) body, no offsets below 4 containers
    assert len(buf) == 4 + 1 + 4 + 2 + 4
    assert _deserialize_roaring32(buf) == list(range(5000))


def test_sparse_values_keep_array_container():
    # 2 runs = 10 bytes > array 4 bytes: stay on the no-run cookie
    buf = _serialize_roaring32([5, 9])
    cookie, n = struct.unpack_from("<II", buf, 0)
    assert (cookie, n) == (12346, 1)
    assert _deserialize_roaring32(buf) == [5, 9]


def test_run_tie_prefers_array():
    # 1 run of 3 = 6 bytes == array 6 bytes: "strictly smaller" rule
    buf = _serialize_roaring32([1, 2, 3])
    (cookie,) = struct.unpack_from("<I", buf, 0)
    assert cookie == 12346


def test_run_format_with_offsets_at_four_containers():
    # four high-key containers, each a single dense run -> run cookie
    # with an offset header (n >= 4)
    vals = []
    for k in range(4):
        vals += [(k << 16) | v for v in range(100)]
    buf = _serialize_roaring32(vals)
    (cookie,) = struct.unpack_from("<I", buf, 0)
    assert cookie & 0xFFFF == 12347 and (cookie >> 16) + 1 == 4
    assert _deserialize_roaring32(buf) == vals


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40),
        min_size=0,
        max_size=400,
    ),
    st.randoms(),
)
def test_dv_roundtrip_with_runs_property(values, rnd):
    # salt in contiguous runs so the run path is actually exercised
    if values:
        base = rnd.choice(values)
        values = values + [base + i for i in range(rnd.randint(0, 50))]
    blob = serialize_deletion_vector(values)
    assert sorted(deserialize_deletion_vector(blob)) == sorted(set(values))


# ------------------------------------- untrusted-run bounds validation


def _run_bitmap(runs: list[tuple[int, int]], card_m1: int) -> bytes:
    """Hand-craft a cookie-12347 bitmap with ONE run container, key 0."""
    out = struct.pack("<I", 12347)  # n=1 in high bits -> 0
    out += b"\x01"  # run-flag bitset: container 0 is a run
    out += struct.pack("<HH", 0, card_m1)
    out += struct.pack("<H", len(runs))
    for lo, lm1 in runs:
        out += struct.pack("<HH", lo, lm1)
    return out


def test_foreign_run_overflow_rejected():
    # start=0xFFFE, len-1=5 escapes the 16-bit space: positions would
    # fold into base|v with v > 0xFFFF — wrong-but-in-range deletes
    buf = _run_bitmap([(0xFFFE, 5)], card_m1=5)
    with pytest.raises(ValueError, match="overflow"):
        _deserialize_roaring32(buf)


def test_foreign_run_at_boundary_accepted():
    # 0xFFFB..0xFFFF inclusive is legal (lo+ln == 0xFFFF exactly)
    buf = _run_bitmap([(0xFFFB, 4)], card_m1=4)
    assert _deserialize_roaring32(buf) == list(range(0xFFFB, 0x10000))


# ------------------------------------------------- tau rationalization


def test_tau_fraction_exact_for_current_call_sites():
    assert _tau_fraction(0.8) == (4, 5)
    assert _tau_fraction(0.5) == (1, 2)


def test_tau_fraction_two_thirds_steps_down():
    # float(2/3) sits just BELOW the rational 2/3; limit_denominator
    # rounds UP to 2/3 which would over-tighten the positional filter
    tau = 2 / 3
    num, den = _tau_fraction(tau)
    assert num / den <= tau
    assert (num, den) != (2, 3)


@settings(max_examples=300, deadline=None)
@given(st.floats(min_value=0.01, max_value=0.999))
def test_tau_fraction_never_exceeds_tau(tau):
    from fractions import Fraction

    num, den = _tau_fraction(tau)
    assert Fraction(num, den) <= Fraction(tau)
    # and it stays a useful approximation (nearest-rational at
    # den<=1000 is within 1/2000; the millionth-floor within 1e-6)
    assert tau - num / den < 1 / 2000 + 1e-9


# ------------------------------------------------ persist-leak bounding


def test_exact_jaccard_unpersists_previous_caches(spark):
    from iceberg_v2_to_v3_upgrade_spark import scope
    from iceberg_v2_to_v3_upgrade_spark.registry import load_all_operators

    registry = load_all_operators()
    registry["n2b_ngram_jaccard_pairs"].fn(spark, SF_SMALL).collect()
    first = list(scope._frames)
    assert len(first) == 2
    assert all(f.storageLevel.useMemory for f in first)
    # the next declared call releases the previous call's frames before
    # it runs (a DIFFERENT query: storageLevel resolves via the cache
    # manager by logical plan, so a second n2b call would shadow the
    # released frames with its own same-plan cache entries)
    registry["q1_pricing_summary"].fn(spark, SF_SMALL).collect()
    assert not any(f.storageLevel.useMemory for f in first)
    assert scope._frames == []
