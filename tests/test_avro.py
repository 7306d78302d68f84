"""Avro object-container codec: round trips, codecs, schema recovery,
by-name adaptation, CDC-ingest composition (AvroToPutGeoMesa parity)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_nifi_spark.functions.avro import (
    avro_to_spark_schema,
    read_avro,
    read_avro_schema,
    spark_to_avro_schema,
    write_avro,
    write_avro_file,
)

FULL_SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType()),
        T.StructField("l", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("f", T.FloatType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("by", T.BinaryType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("dt", T.DateType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
        T.StructField("m", T.MapType(T.StringType(), T.StringType())),
        T.StructField("rec", T.StructType([T.StructField("x", T.LongType())])),
    ]
)

ROWS = [
    (
        "héllo",
        -(2**40),
        -7,
        1.5,
        2.0,
        True,
        b"\x00\xff",
        datetime.datetime(2021, 3, 4, 5, 6, 7, 123456),
        datetime.date(1999, 12, 31),
        [1, None, 3],
        {"a": "1", "b": None},
        Row(x=9),
    ),
    (None, None, None, None, None, None, None, None, None, None, None, None),
]


def _sorted_rows(df):
    return sorted(
        [r.asDict(recursive=True) for r in df.collect()],
        key=lambda r: (r["s"] is None, r["s"]),
    )


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_roundtrip_all_types(spark, tmp_path, codec):
    df = spark.createDataFrame(ROWS, FULL_SCHEMA)
    out = str(tmp_path / "all")
    n = write_avro(df, out, codec=codec)
    assert n >= 1
    back = read_avro(spark, out)
    assert back.schema == FULL_SCHEMA
    assert _sorted_rows(back) == _sorted_rows(df)


def test_schema_mapping_is_inverse():
    assert avro_to_spark_schema(spark_to_avro_schema(FULL_SCHEMA)) == FULL_SCHEMA


def test_single_file_deterministic(spark, tmp_path):
    df = spark.createDataFrame([("b", 2), ("a", 1)], "k string, v long")
    p1 = write_avro_file(df, str(tmp_path / "one.avro"), order_by=["k"])
    p2 = write_avro_file(df, str(tmp_path / "two.avro"), order_by=["k"])
    assert open(p1, "rb").read() == open(p2, "rb").read()
    assert read_avro_schema(p1) == df.schema
    back = read_avro(spark, p1)
    assert [tuple(r) for r in back.collect()] == [("a", 1), ("b", 2)]


def test_distributed_write_one_file_per_partition(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id"), F.concat(F.lit("k"), F.col("id")).alias("k")
    ).repartition(4)
    out = str(tmp_path / "parts")
    n = write_avro(df, out)
    assert n == 4
    back = read_avro(spark, out)
    assert back.count() == 1000
    assert back.agg(F.sum("id")).collect()[0][0] == 499500


def test_rewrite_clears_stale_parts_and_manifest_bounds_read(spark, tmp_path):
    """A re-run with FEWER partitions must not leave the first attempt's
    higher-numbered part files behind for read_avro to double-count: the
    writer clears matching parts up front and commits a driver-side
    manifest that read_avro trusts over a raw directory listing."""
    import json as _json
    import os

    out = str(tmp_path / "rerun")
    write_avro(spark.range(100).repartition(4), out)
    assert len([f for f in os.listdir(out) if f.endswith(".avro")]) == 4
    # second write into the same dir with fewer partitions
    n = write_avro(spark.range(10).repartition(2), out)
    assert n == 2
    assert len([f for f in os.listdir(out) if f.endswith(".avro")]) == 2
    back = read_avro(spark, out)
    assert back.count() == 10  # no double-count from stale parts

    # manifest contract: a part the manifest names but the fs lost -> loud
    with open(os.path.join(out, "_manifest.json")) as fh:
        names = _json.load(fh)["files"]
    os.remove(os.path.join(out, names[0]))
    with pytest.raises(FileNotFoundError):
        read_avro(spark, out)


def test_torn_write_detected_via_in_progress_marker(spark, tmp_path):
    """A write_avro that dies mid-job leaves the in-progress marker (written
    BEFORE the job), so read_avro fails loudly on the partial part set
    instead of silently reading whatever parts landed."""
    import json as _json
    import os

    out = str(tmp_path / "torn")
    write_avro(spark.range(10).repartition(2), out)
    # simulate the torn state: parts on disk, manifest back to in-progress
    with open(os.path.join(out, "_manifest.json"), "w") as fh:
        _json.dump({"in_progress": True}, fh)
    with pytest.raises(FileNotFoundError, match="torn"):
        read_avro(spark, out)


def test_by_name_schema_adaptation(spark, tmp_path):
    """Files missing a column are null-padded by name — the
    AvroToPutGeoMesa schema-adapter contract (AvroToPutGeoMesa.scala:60-78)."""
    wide = spark.createDataFrame([(1, "x", 1.0)], "a long, b string, c double")
    narrow = spark.createDataFrame([(2, "y")], "a long, b string")
    out = tmp_path / "adapt"
    out.mkdir()
    write_avro_file(wide, str(out / "p0-wide.avro"))
    write_avro_file(narrow, str(out / "p1-narrow.avro"))
    back = read_avro(spark, str(out))
    got = {r["a"]: r.asDict() for r in back.collect()}
    assert got[1] == {"a": 1, "b": "x", "c": 1.0}
    assert got[2] == {"a": 2, "b": "y", "c": None}


def test_avro_cdc_ingest(spark, tmp_path):
    """GeoAvro-file ingest end to end: avro files -> read_avro ->
    merge_changes; final state equals merging the original frame."""
    from geomesa_nifi_spark.lake import LakeTable, merge_changes

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("v", T.LongType()),
        ]
    )
    t0 = datetime.datetime(2024, 1, 1)
    ch = spark.createDataFrame(
        [
            ("u1", t0, 1),
            ("u1", t0 + datetime.timedelta(seconds=5), 2),
            ("u2", t0, 3),
        ],
        schema,
    )
    avro_dir = str(tmp_path / "chg")
    write_avro(ch, avro_dir)
    table = LakeTable.create(
        spark, str(tmp_path / "tbl"), schema, key_col="url", ts_col="warc_ts", num_buckets=4
    )
    merge_changes(table, read_avro(spark, avro_dir), batch_id="avro-0")
    state = {r["url"]: r["v"] for r in table.scan().collect()}
    assert state == {"u1": 2, "u2": 3}


def test_java_avro_reads_our_files(spark, tmp_path):
    """Spec conformance against the CANONICAL implementation: the
    org.apache.avro library bundled in Spark's JVM (the exact library the
    reference's GeoAvro writers use) must parse our container files —
    interop, not self-consistency.  Runs unconditionally (no third-party
    Python Avro lib needed), closing the suite's one perpetual skip."""
    df = spark.createDataFrame([("a", 1), ("b", None)], "k string, v long")
    p = write_avro_file(df, str(tmp_path / "io.avro"))
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    got = []
    while reader.hasNext():
        rec = reader.next()
        k = rec.get("k")
        v = rec.get("v")
        got.append((str(k) if k is not None else None,
                    int(v) if v is not None else None))
    reader.close()
    assert got == [("a", 1), ("b", None)]


def test_our_reader_reads_java_avro_files(spark, tmp_path):
    """The mirror direction: a container file written by the canonical Java
    implementation (deflate codec, union-null schema) decodes byte-for-byte
    through the engine's dependency-free codec."""
    jvm = spark._jvm
    schema_json = (
        '{"type":"record","name":"page","fields":['
        '{"name":"k","type":"string"},'
        '{"name":"v","type":["null","long"],"default":null},'
        '{"name":"score","type":"double"},'
        '{"name":"ok","type":"boolean"}]}'
    )
    s = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(s)
    )
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    p = str(tmp_path / "java.avro")
    writer.create(s, jvm.java.io.File(p))
    # values > 2^31 so py4j maps them to java.lang.Long (a small Python int
    # would arrive as Integer and fail the ["null","long"] union)
    big = 2**40 + 7
    for k, v, score, ok in [("a", big, 0.5, True), ("b", None, -2.25, False)]:
        rec = jvm.org.apache.avro.generic.GenericData.Record(s)
        rec.put("k", k)
        rec.put("v", v)
        rec.put("score", score)
        rec.put("ok", ok)
        writer.append(rec)
    writer.close()

    back = read_avro(spark, p).orderBy("k").collect()
    assert [(r["k"], r["v"], r["score"], r["ok"]) for r in back] == [
        ("a", big, 0.5, True),
        ("b", None, -2.25, False),
    ]


def _handmade_container(avro_schema_json: str, fill_block) -> bytes:
    """Assemble a spec-conformant container by hand (to carry schemas our
    own writer never emits, e.g. millis logical types)."""
    from geomesa_nifi_spark.functions import avro as A

    out = bytearray()
    out += A.MAGIC

    def put_bytes(b: bytes):
        A._zigzag_encode(out, len(b))
        out.extend(b)

    A._zigzag_encode(out, 2)
    put_bytes(b"avro.schema")
    put_bytes(avro_schema_json.encode())
    put_bytes(b"avro.codec")
    put_bytes(b"null")
    out.append(0)  # end of metadata map
    sync = b"\x01" * 16
    out += sync
    block = bytearray()
    n_rows = fill_block(block)
    A._zigzag_encode(out, n_rows)
    A._zigzag_encode(out, len(block))
    out += bytes(block)
    out += sync
    return bytes(out)


def test_foreign_millis_timestamps_decode_correctly(spark, tmp_path):
    """A spec-conformant foreign file with timestamp-millis must decode to
    the right instant — not 1000x too small (the decode multiplies by the
    unit, our own writer always emits micros)."""
    import json as _json

    from geomesa_nifi_spark.functions import avro as A

    schema_json = _json.dumps(
        {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "url", "type": ["null", "string"]},
                {
                    "name": "ts",
                    "type": ["null", {"type": "long", "logicalType": "timestamp-millis"}],
                },
            ],
        }
    )
    millis = 1_600_000_000_123  # 2020-09-13T12:26:40.123Z

    def fill(block: bytearray) -> int:
        block.append(2)  # union branch 1 = string
        b = b"a"
        A._zigzag_encode(block, len(b))
        block += b
        block.append(2)  # union branch 1 = long
        A._zigzag_encode(block, millis)
        return 1

    data = _handmade_container(schema_json, fill)
    schema, cols, _n = A._decode_container_columns(data)
    assert schema["ts"].dataType == T.TimestampType()
    got = cols["ts"][0]
    assert got == datetime.datetime(
        2020, 9, 13, 12, 26, 40, 123000, tzinfo=datetime.timezone.utc
    )
    # and through the DataFrame reader end-to-end
    p = tmp_path / "millis"
    p.mkdir()
    (p / "f.avro").write_bytes(data)
    back = read_avro(spark, str(p)).collect()
    assert back[0]["url"] == "a"


def test_float_nan_roundtrips(spark, tmp_path):
    """Genuine NaN in float/double columns must survive the roundtrip as
    NaN — only non-float types treat NaN as pandas-missing."""
    import math

    df = spark.createDataFrame(
        [("a", float("nan"), float("nan")), ("b", 1.5, 2.5)],
        "k string, d double, f float",
    )
    out = str(tmp_path / "nan")
    write_avro(df, out)
    got = {r["k"]: r for r in read_avro(spark, out).collect()}
    assert math.isnan(got["a"]["d"]) and math.isnan(got["a"]["f"])
    assert got["b"]["d"] == 1.5


def test_write_avro_retry_idempotent(spark, tmp_path):
    """Deterministic part names: re-running a partition write (task retry /
    speculative duplicate) replaces its file instead of adding a second."""
    import os

    df = spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string").coalesce(1)
    out = str(tmp_path / "retry")
    write_avro(df, out)
    write_avro(df, out)  # the "retry"
    files = [n for n in os.listdir(out) if n.endswith(".avro")]
    assert files == ["part-00000.avro"]
    assert read_avro(spark, out).count() == 2


def test_write_avro_file_guards_bulk_collect(spark, tmp_path):
    """The deterministic single-file path fails loudly above max_rows
    instead of silently collecting a bulk frame to the driver."""
    df = spark.range(10).selectExpr("id as k", "cast(id as string) as v")
    with pytest.raises(ValueError, match="write_avro for bulk data"):
        write_avro_file(df, str(tmp_path / "big.avro"), max_rows=5)
    # at exactly the bound it still writes
    p = write_avro_file(df, str(tmp_path / "ok.avro"), order_by=["k"], max_rows=10)
    got = read_avro(spark, p)
    assert got.count() == 10
