"""Property-based fuzz over the engine's pure (no-Spark) codecs:
geometry WKT<->WKB, the Avro container binary codec, and murmur3 —
hypothesis drives the input space far beyond the example-based tests.
Driver-side only (no SparkSession in any property loop)."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from geomesa_nifi_spark.functions.geometry import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    decode_wkb,
    encode_wkb,
    parse_wkt,
    to_wkt,
)
from geomesa_nifi_spark.functions.hashing import murmur3_128_hex, murmur3_x64_128

# ---------------------------------------------------------------------------
# geometry: structure strategies
# ---------------------------------------------------------------------------

finite = st.floats(
    allow_nan=False, allow_infinity=False, width=64, min_value=-1e12, max_value=1e12
)
coord = st.tuples(finite, finite)
ring = st.lists(coord, min_size=3, max_size=6)


def geometry_strategy():
    simple = st.one_of(
        st.tuples(st.just(POINT), coord),
        st.tuples(st.just(LINESTRING), st.lists(coord, min_size=2, max_size=8)),
        st.tuples(st.just(POLYGON), st.lists(ring, min_size=1, max_size=3)),
        st.tuples(st.just(MULTIPOINT), st.lists(coord, min_size=1, max_size=5)),
        st.tuples(
            st.just(MULTILINESTRING),
            st.lists(st.lists(coord, min_size=2, max_size=5), min_size=1, max_size=3),
        ),
        st.tuples(
            st.just(MULTIPOLYGON),
            st.lists(st.lists(ring, min_size=1, max_size=2), min_size=1, max_size=2),
        ),
    )
    return st.one_of(
        simple,
        st.tuples(
            st.just(GEOMETRYCOLLECTION), st.lists(simple, min_size=1, max_size=3)
        ),
    )


@settings(max_examples=200, deadline=None)
@given(geometry_strategy(), st.booleans())
def test_wkb_roundtrip_any_geometry(geom, little):
    code, s = geom
    back_code, back_s = decode_wkb(encode_wkb(code, s, little=little))
    assert back_code == code
    # coordinates survive exactly (doubles are bit-preserved by the codec)
    assert _flat(back_s, code) == _flat(s, code)


@settings(max_examples=200, deadline=None)
@given(geometry_strategy())
def test_wkt_roundtrip_any_geometry(geom):
    code, s = geom
    text = to_wkt(code, s)
    code2, s2 = parse_wkt(text)
    assert code2 == code
    # WKT renders shortest-repr floats: parse-back must be value-identical
    assert _flat(s2, code) == _flat(s, code)


def _flat(structure, code):
    if code == POINT:
        return [structure]
    if code in (LINESTRING, MULTIPOINT):
        return list(structure)
    if code in (POLYGON, MULTILINESTRING):
        return [tuple(r) for r in structure]
    if code == MULTIPOLYGON:
        return [tuple(tuple(r) for r in p) for p in structure]
    return [(c, tuple(_flat(s, c))) for c, s in structure]


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=200))
def test_wkb_decoder_never_misdecodes_garbage(buf):
    """Arbitrary bytes either raise ValueError or decode to a geometry that
    round-trips stably through the codec (re-encode -> decode is a fixed
    point) — never a silent wrong answer, never a non-ValueError crash.
    (Byte equality is deliberately not asserted: the spec allows nested
    members with their own byte order, which re-encode canonically.)"""
    try:
        code, s = decode_wkb(buf)
    except ValueError:
        return
    le = buf[0] == 1
    again = decode_wkb(encode_wkb(code, s, little=le))
    assert again == (code, s)


# ---------------------------------------------------------------------------
# avro container codec (driver-side encode/decode)
# ---------------------------------------------------------------------------

from pyspark.sql import types as T  # noqa: E402  (pure type objects, no session)

from geomesa_nifi_spark.functions.avro import (  # noqa: E402
    _decode_container_columns,
    _encode_container,
)

AVRO_SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType()),
        T.StructField("i", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("raw", T.BinaryType()),
    ]
)

avro_row = st.fixed_dictionaries(
    {
        "s": st.one_of(st.none(), st.text(max_size=40)),
        "i": st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
        "d": st.one_of(st.none(), st.floats(allow_nan=False, width=64)),
        "b": st.one_of(st.none(), st.booleans()),
        "raw": st.one_of(st.none(), st.binary(max_size=32)),
    }
)


@settings(max_examples=100, deadline=None)
@given(st.lists(avro_row, max_size=20), st.sampled_from(["null", "deflate"]))
def test_avro_container_roundtrip(rows, codec):
    data = _encode_container(AVRO_SCHEMA, rows, codec=codec, block_rows=7)
    schema, cols, n = _decode_container_columns(data)
    assert schema == AVRO_SCHEMA
    assert n == len(rows)
    assert [dict(zip(cols, vals)) for vals in zip(*cols.values())] == rows


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=True, width=64).filter(lambda x: True), max_size=10
    )
)
def test_avro_nan_and_float_bits_roundtrip(values):
    rows = [{"d": v} for v in values]
    schema = T.StructType([T.StructField("d", T.DoubleType())])
    _s, cols, _n = _decode_container_columns(_encode_container(schema, rows))
    for want, got in zip(values, cols["d"]):
        if math.isnan(want):
            assert math.isnan(got)
        else:
            assert want == got


# ---------------------------------------------------------------------------
# murmur3 x64/128: batch == singleton (the vectorized lock-step masking)
# ---------------------------------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(st.lists(st.binary(max_size=120), min_size=1, max_size=16))
def test_murmur3_batch_equals_singletons(batch):
    """The vectorized batch path (rows advance through block loops in
    lock-step with masking) must agree with hashing each input alone —
    mixed lengths are exactly where a masking bug would hide."""
    batched = murmur3_128_hex(batch)
    singles = [murmur3_128_hex([b])[0] for b in batch]
    assert batched == singles


@settings(max_examples=50, deadline=None)
@given(st.binary(max_size=64), st.integers(min_value=0, max_value=2**31 - 1))
def test_murmur3_seed_sensitivity(data, seed):
    h1, h2 = murmur3_x64_128([data], seed=seed)
    r1, r2 = murmur3_x64_128([data], seed=seed)
    assert h1[0] == r1[0] and h2[0] == r2[0]  # deterministic
