"""Property-based tests (hypothesis) for the pure-Python kernels.

These cover the non-Spark invariants cheaply (no session needed): the
scalar token specs' range and determinism, serialization round-trip
envelopes, and bucket math covering the full ring. The JVM token functions
are checked against the scalar specs in tests/test_jvm_tokens.py.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from hdfs2cass_spark.functions.murmur3 import (
    MAX_TOKEN,
    MIN_TOKEN,
    cassandra_token,
)
from hdfs2cass_spark.functions.serde import compose_partition_key, to_cassandra_bytes


@settings(max_examples=500, deadline=None)
@given(st.binary(min_size=0, max_size=64))
def test_token_in_range_and_deterministic(key):
    t = cassandra_token(key)
    assert MIN_TOKEN <= t <= MAX_TOKEN
    assert t == cassandra_token(key)
    if len(key) == 0:
        assert t == MIN_TOKEN


@settings(max_examples=200, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=100), min_size=2, max_size=5))
def test_composite_envelope_is_parseable(components):
    """The [2B len][bytes][0x00] envelope decodes back to the components."""
    blob = compose_partition_key(*components)
    out = []
    i = 0
    while i < len(blob):
        n = int.from_bytes(blob[i : i + 2], "big")
        out.append(blob[i + 2 : i + 2 + n])
        assert blob[i + 2 + n] == 0
        i += 3 + n
    assert out == components


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=100))
def test_string_serialization_roundtrip(s):
    assert to_cassandra_bytes(s).decode("utf-8") == s


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_int_serialization_width(v):
    b = to_cassandra_bytes(v)
    assert len(b) == (4 if -(2**31) <= v < 2**31 else 8)
    assert int.from_bytes(b, "big", signed=True) == v


def test_bucket_covers_ring_exhaustively():
    """Every token maps to exactly one bucket in [0, n) and boundaries align
    with the ring arithmetic (pure-Python twin of bucket_expr)."""
    for n in (1, 3, 8, 17, 256):
        range_per = 2**64 // n + (1 if 2**64 % n else 0)
        for tok in (MIN_TOKEN, MIN_TOKEN + 1, -1, 0, 1, MAX_TOKEN - 1, MAX_TOKEN):
            b = (tok - MIN_TOKEN) // range_per
            assert 0 <= b < n


@settings(max_examples=300, deadline=None)
@given(st.one_of(st.binary(max_size=64), st.text(max_size=32), st.none()))
def test_md5_token_matches_inline_udf_logic(key):
    """An independent inline statement of RandomPartitioner.getToken pins
    md5_token, the spec the JVM function is tested against, to the ring."""
    import hashlib

    from hdfs2cass_spark.functions.md5token import RING_SIZE_MD5, md5_token

    # abs of the signed big-endian digest; empty and NULL keys -> 0
    k = key
    if k is None:
        k = b""
    if isinstance(k, str):
        k = k.encode("utf-8")
    if len(k) == 0:
        inline = 0
    else:
        inline = abs(int.from_bytes(hashlib.md5(bytes(k)).digest(), "big", signed=True))
    assert md5_token(key) == inline
    assert 0 <= inline < RING_SIZE_MD5


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.integers(min_value=MIN_TOKEN, max_value=MAX_TOKEN),
        min_size=1,
        max_size=12,
        unique=True,
    ),
    st.integers(min_value=MIN_TOKEN, max_value=MAX_TOKEN),
)
def test_ring_every_token_has_consistent_replicas(tokens, probe):
    """Ring invariants for arbitrary token layouts: every probe resolves to
    rf distinct endpoints led by the range owner, and the owner is the
    smallest ring token >= probe (wrapping to the smallest overall)."""
    from hdfs2cass_spark.sinks.ring import Ring, replicas_for_token

    tokens = sorted(tokens)
    eps = [f"n{i % max(2, len(tokens))}" for i in range(len(tokens))]
    ring = Ring(tokens, eps, rf=min(2, len(set(eps))))
    reps = replicas_for_token(ring, probe)
    assert len(reps) == ring.rf and len(set(reps)) == len(reps)
    above = [t for t in tokens if t >= probe]
    owner_token = above[0] if above else tokens[0]
    assert reps[0] == eps[tokens.index(owner_token)]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-1000, max_value=1000),
        min_size=1,
        max_size=8,
        unique=True,
    ),
    st.integers(min_value=-1200, max_value=1200),
    st.integers(min_value=0, max_value=400),
)
def test_ring_span_ranges_cover_every_token_in_span(tokens, lo, width):
    """ranges_for_span must include the owning range of EVERY token inside
    the span (sampled densely on a small ring) and nothing fails on
    wraparound spans."""
    from hdfs2cass_spark.sinks.ring import Ring, ranges_for_span, replicas_for_token

    tokens = sorted(tokens)
    ring = Ring(tokens, [f"e{i}" for i in range(len(tokens))])
    hi = lo + width
    owners = {t for t, _ in ranges_for_span(ring, lo, hi)}
    for probe in range(lo, hi + 1, max(1, width // 37)):
        above = [t for t in tokens if t >= probe]
        assert (above[0] if above else tokens[0]) in owners
