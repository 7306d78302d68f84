"""WKT <-> WKB serialization, all seven OGC kinds (records/package.scala:
183-194, geometry-serialization wkt|wkb; fixture geometries mirror
GeoAvroRecordSetWriterFactoryTest.scala:44-77)."""

from __future__ import annotations

import struct

import pytest

from geomesa_nifi_spark.functions.geometry import (
    decode_wkb,
    encode_wkb,
    parse_wkt,
    to_wkt,
    wkb_point_bytes,
    wkb_to_wkt,
    wkt_to_wkb,
)

# the reference's own all-kinds fixture set (GeoAvroRecordSetWriterFactoryTest
# .scala:45-50), plus a GeometryCollection (JTS writes it; the fixture just
# doesn't exercise it)
ALL_KINDS = [
    "POINT (0 0)",
    "LINESTRING (0 0, 1 1, 4 4)",
    "POLYGON ((10 10, 10 20, 20 20, 20 10, 10 10), (11 11, 19 11, 19 19, 11 19, 11 11))",
    "MULTIPOINT ((0 0), (1 1))",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((10 10, 10 20, 20 20, 20 10, 10 10), (11 11, 19 11, 19 19, 11 19, 11 11)))",
    "GEOMETRYCOLLECTION (POINT (2 3), LINESTRING (0 0, 1 1))",
]


def test_wkb_bytes_layout():
    b = wkb_point_bytes(-100.2365, 23.0)
    assert len(b) == 21 and b[0] == 1
    assert struct.unpack("<I", b[1:5])[0] == 1  # point type
    assert struct.unpack("<dd", b[5:21]) == (-100.2365, 23.0)


@pytest.mark.parametrize("wkt", ALL_KINDS)
@pytest.mark.parametrize("little", [True, False])
def test_codec_roundtrip_all_kinds(wkt, little):
    code, s = parse_wkt(wkt)
    back = decode_wkb(encode_wkb(code, s, little=little))
    assert to_wkt(*back) == wkt


def test_parse_rejects_malformed():
    for bad in ["POINT (1)", "CIRCLE (0 0)", "POINT EMPTY", "POLYGON ((0 0, 1 1)"]:
        with pytest.raises(ValueError):
            parse_wkt(bad)


def test_mixed_endianness_rejected():
    # byte-order flag 0x01 (LE) but big-endian type bytes 00 00 00 01: the
    # declared type is 0x01000000 — malformed, must NOT decode as a point
    bad = b"\x01" + b"\x00\x00\x00\x01" + struct.pack("<dd", 1.0, 2.0)
    with pytest.raises(ValueError):
        decode_wkb(bad)
    # and the mirror case: flag 0x00 (BE) with little-endian type bytes
    bad2 = b"\x00" + b"\x01\x00\x00\x00" + struct.pack(">dd", 1.0, 2.0)
    with pytest.raises(ValueError):
        decode_wkb(bad2)


def test_truncated_and_trailing_rejected():
    good = encode_wkb(*parse_wkt("LINESTRING (0 0, 1 1)"))
    with pytest.raises(ValueError):
        decode_wkb(good[:-1])
    with pytest.raises(ValueError):
        decode_wkb(good + b"\x00")


def test_wkt_wkb_roundtrip(spark):
    rows_in = [("a", "POINT (-100.2365 23)"), ("b", "POINT (3 -62.23)"),
               ("c", None)] + [
        (f"g{i}", w) for i, w in enumerate(ALL_KINDS)
    ] + [("bad", "CIRCLE (0 0)")]
    df = spark.createDataFrame(rows_in, "k string, wkt string")
    out = df.select(
        "k", "wkt",
        wkt_to_wkb("wkt").alias("wkb"),
    ).select("k", "wkt", "wkb", wkb_to_wkt("wkb").alias("back")).collect()
    rows = {r["k"]: r for r in out}
    assert bytes(rows["a"]["wkb"]) == wkb_point_bytes(-100.2365, 23.0)
    assert rows["a"]["back"] == "POINT (-100.2365 23)"
    assert rows["b"]["back"] == "POINT (3 -62.23)"
    assert rows["c"]["wkb"] is None and rows["c"]["back"] is None
    assert rows["bad"]["wkb"] is None  # malformed: null, not garbage
    for i, w in enumerate(ALL_KINDS):
        assert rows[f"g{i}"]["back"] == w


def test_point_fast_path_parses_like_the_codec(spark):
    """Shortest-repr coordinates encode to exactly their own 8 bytes: the
    vectorized point path parses correctly rounded, like the codec."""
    import random

    rng = random.Random(3)
    pts = [(rng.uniform(-1e6, 1e6), rng.uniform(-90, 90)) for _ in range(200)]
    df = spark.createDataFrame([(f"POINT ({x!r} {y!r})",) for x, y in pts], "wkt string")
    got = [bytes(r["b"]) for r in df.select(wkt_to_wkb("wkt").alias("b")).collect()]
    assert got == [wkb_point_bytes(x, y) for x, y in pts]


def test_wkt_wkb_roundtrip_big_endian(spark):
    df = spark.createDataFrame([(w,) for w in ALL_KINDS], "wkt string")
    out = df.select(
        "wkt", wkb_to_wkt(wkt_to_wkb("wkt", little=False)).alias("back")
    ).collect()
    for r in out:
        assert r["back"] == r["wkt"]


def test_wkb_big_endian_decodes(spark):
    be = b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", 1.5, 2.5)
    df = spark.createDataFrame([(bytearray(be),)], "wkb binary")
    r = df.select(wkb_to_wkt("wkb").alias("w")).first()
    assert r["w"] == "POINT (1.5 2.5)"


def test_non_finite_coordinates_null_not_crash(spark):
    """WKT has no non-finite rendering: 'POINT (Infinity 5)' (which
    pd.to_numeric would happily parse) and a spec-valid WKB carrying NaN
    must map to null, never crash the task with OverflowError/ValueError."""
    from geomesa_nifi_spark.functions.geometry import wkb_to_wkt, wkt_to_wkb

    df = spark.createDataFrame(
        [("inf", "POINT (Infinity 5)"), ("nan", "POINT (NaN 1)"),
         ("ok", "POINT (1 2)")],
        "k string, wkt string",
    )
    rows = {r["k"]: r for r in df.select(
        "k", wkt_to_wkb("wkt").alias("wkb")
    ).collect()}
    assert rows["inf"]["wkb"] is None and rows["nan"]["wkb"] is None
    assert rows["ok"]["wkb"] is not None

    nan_wkb = wkb_point_bytes(float("nan"), 1.0)
    inf_wkb = wkb_point_bytes(float("inf"), 1.0)
    df2 = spark.createDataFrame(
        [(bytearray(nan_wkb),), (bytearray(inf_wkb),)], "wkb binary"
    )
    got = [r["w"] for r in df2.select(wkb_to_wkt("wkb").alias("w")).collect()]
    assert got == [None, None]


def test_deep_nesting_rejected_not_recursion_error():
    """~1000 nested GEOMETRYCOLLECTION headers must raise ValueError (which
    the UDFs null out), not RecursionError (which kills the task)."""
    from geomesa_nifi_spark.functions.geometry import decode_wkb, parse_wkt

    depth = 1000
    buf = (b"\x01\x07\x00\x00\x00" + struct.pack("<I", 1)) * depth
    with pytest.raises(ValueError):
        decode_wkb(buf + b"\x01\x01\x00\x00\x00" + struct.pack("<dd", 0, 0))
    wkt = "GEOMETRYCOLLECTION (" * depth + "POINT (0 0)" + ")" * depth
    with pytest.raises(ValueError):
        parse_wkt(wkt)


def test_mixed_endianness_null_in_column(spark):
    bad = b"\x01" + b"\x00\x00\x00\x01" + struct.pack("<dd", 1.0, 2.0)
    df = spark.createDataFrame([(bytearray(bad),)], "wkb binary")
    assert df.select(wkb_to_wkt("wkb").alias("w")).first()["w"] is None
