"""Kafka source contract test: the downstream pipeline is defined entirely
over the standard Kafka record columns, so a FAKE source with that exact
schema exercises the whole path (decode -> LWW merge -> exactly-once lake
commit) end-to-end without the broker/jar — the environment-blocked piece
is confined to `reader.load()` (GetGeoMesaKafkaRecord.scala:271-302)."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import types as T

from geomesa_nifi_spark.lake import LakeTable, merge_changes
from geomesa_nifi_spark.streaming.kafka import (
    KAFKA_RECORD_SCHEMA,
    kafka_records_to_changes,
)

VALUE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("offset", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("op", T.StringType()),
    ]
)
TABLE_SCHEMA = T.StructType([f for f in VALUE_SCHEMA.fields if f.name != "op"])


def _kafka_record(url, secs, offset, text, op="upsert", partition=0):
    ts = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=secs)
    payload = {
        "url": url,
        "warc_ts": ts.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
        "offset": offset,
        "text": text,
        "op": op,
    }
    return (
        url.encode(),
        json.dumps(payload).encode(),
        "pages",
        partition,
        offset,
        ts,
        0,
    )


def test_fake_kafka_source_end_to_end(spark, tmp_path):
    """Two micro-batches of Kafka-shaped records flow through decode ->
    merge with per-partition offset lineage; final state is LWW-correct and
    replaying the stream from scratch is a no-op (exactly-once)."""
    src = tmp_path / "fake-kafka"
    src.mkdir()
    batches = [
        [_kafka_record("u1", 10, 0, "v1"), _kafka_record("u2", 10, 1, "w1", partition=1)],
        [
            _kafka_record("u1", 20, 2, "v2"),
            _kafka_record("u2", 5, 3, "late"),  # loses LWW
            _kafka_record("u3", 9, 4, None, op="delete"),  # delete-before-insert
        ],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i}"), mode="overwrite"
        )
        import glob
        import shutil

        part = glob.glob(str(src / f"b{i}" / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"file-{i}.parquet"))
        shutil.rmtree(str(src / f"b{i}"))

    table = LakeTable.create(
        spark, str(tmp_path / "t"), TABLE_SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset", num_buckets=4,
    )

    def run_replay(name):
        stream = (
            spark.readStream.schema(KAFKA_RECORD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        changes = kafka_records_to_changes(stream, VALUE_SCHEMA)
        seen = []

        def process(batch, epoch_id):
            from pyspark.sql import functions as F

            ranges = [
                r.asDict()
                for r in batch.groupBy("_kafka_partition")
                .agg(
                    F.min("_kafka_offset").alias("lo"),
                    F.max("_kafka_offset").alias("hi"),
                    F.count("*").alias("rows"),
                )
                .collect()
            ]
            r = merge_changes(
                table,
                batch.drop("_kafka_partition", "_kafka_offset"),
                batch_id=f"kafka-{epoch_id}",
                lineage={"offset_ranges": ranges},
            )
            seen.append((epoch_id, r.skipped))

        q = (
            changes.writeStream.foreachBatch(process)
            .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return seen

    first = run_replay("a")
    assert len(first) == 2 and not any(s for _, s in first)
    state = {r["url"]: r["text"] for r in table.scan().collect()}
    assert state == {"u1": "v2", "u2": "w1"}  # late u2 lost; u3 tombstoned
    v = table.snapshot().version

    # fresh checkpoint, same batch ids -> every merge skips, version unchanged
    second = run_replay("b")
    assert all(s for _, s in second)
    assert table.snapshot().version == v
    # offset lineage landed in the commit summaries
    ranges = [
        s.summary["lineage"].get("offset_ranges")
        for s in table.history()
        if s.summary.get("batch_id", "").startswith("kafka-")
    ]
    assert any(ranges) and all(r is not None for r in ranges)


def test_fake_kafka_avro_values(spark, tmp_path):
    """GeoAvro-over-Kafka: each message value is a self-describing Avro
    container (possibly several records per message), decoded by the
    engine's codec and conformed by name — the reference's record-reader
    shape for its own Avro writer output."""
    from geomesa_nifi_spark.functions.avro import _encode_container, spark_to_avro_schema  # noqa: F401

    payload_rows = [
        {"url": "u1", "warc_ts": dt.datetime(2024, 1, 1, 0, 0, 10),
         "offset": 1, "text": "v1", "op": "upsert"},
        {"url": "u2", "warc_ts": dt.datetime(2024, 1, 1, 0, 0, 11),
         "offset": 2, "text": "w1", "op": "upsert"},
    ]
    container = _encode_container(VALUE_SCHEMA, payload_rows, codec="deflate")
    kafka_rows = [(b"k", container, "pages", 0, 7, dt.datetime(2024, 1, 1), 0)]
    df = spark.createDataFrame(kafka_rows, KAFKA_RECORD_SCHEMA)
    out = kafka_records_to_changes(df, VALUE_SCHEMA, value_format="avro")
    got = {r["url"]: r for r in out.collect()}
    assert set(got) == {"u1", "u2"}
    assert got["u1"]["text"] == "v1" and got["u1"]["_kafka_offset"] == 7
    assert got["u2"]["warc_ts"] == dt.datetime(2024, 1, 1, 0, 0, 11)


def test_kafka_value_format_validation(spark):
    import pytest as _pytest

    from geomesa_nifi_spark.streaming.kafka import KafkaConfigError

    df = spark.createDataFrame([], KAFKA_RECORD_SCHEMA)
    with _pytest.raises(KafkaConfigError, match="value_format"):
        kafka_records_to_changes(df, VALUE_SCHEMA, value_format="csv")


def _changes_df(spark, n=10):
    rows = [
        (f"u{i}", dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), i,
         f"t{i}", "delete" if i % 5 == 0 else "upsert")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, VALUE_SCHEMA)


def test_producer_roundtrip_json(spark):
    """changes -> (key,value) JSON messages -> decode = identity; the
    produce path is pure codegen (no Python UDF in the plan)."""
    from geomesa_nifi_spark.streaming.kafka import changes_to_kafka_records

    ch = _changes_df(spark)
    recs = changes_to_kafka_records(ch, key_col="url", value_format="json")
    assert recs.columns == ["key", "value"]
    assert "mapInPandas" not in recs._jdf.queryExecution().executedPlan().toString()
    keys = {bytes(r["key"]).decode() for r in recs.collect()}
    assert keys == {f"u{i}" for i in range(10)}

    # round-trip through the consumer decode (schema needs kafka cols)
    from pyspark.sql import functions as F

    kafka_shaped = recs.select(
        "key", "value", F.lit("pages").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"), F.lit(0).alias("timestampType"),
    )
    back = kafka_records_to_changes(kafka_shaped, VALUE_SCHEMA, include_lineage=False)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in ch.collect()}


def test_producer_roundtrip_avro_batched(spark):
    """changes -> GeoAvro container messages (3 records/message) ->
    consumer decode = identity; message count reflects the batching."""
    from geomesa_nifi_spark.streaming.kafka import changes_to_kafka_records

    ch = _changes_df(spark, n=10).repartition(1)
    recs = changes_to_kafka_records(
        ch, key_col="url", value_format="avro", records_per_message=3
    )
    collected = recs.collect()
    assert len(collected) == 4  # ceil(10/3) messages, one input partition
    assert all(r["key"] is None for r in collected)

    from pyspark.sql import functions as F

    kafka_shaped = recs.select(
        "key", "value", F.lit("pages").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"), F.lit(0).alias("timestampType"),
    )
    back = kafka_records_to_changes(
        kafka_shaped, VALUE_SCHEMA, include_lineage=False, value_format="avro"
    )
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in ch.collect()}


def test_kafka_sink_options_mapping(spark):
    import pytest as _pytest

    from geomesa_nifi_spark.streaming.kafka import KafkaConfigError, kafka_sink_options

    plan = kafka_sink_options({
        "brokers": "b1:9092,b2:9092", "topic": "pages",
        "serialization-type": "avro",
        "producer-config": {"acks": "all", "linger.ms": 5},
    })
    assert plan.options["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert plan.options["topic"] == "pages"
    assert plan.options["kafka.acks"] == "all"
    assert plan.options["kafka.linger.ms"] == "5"

    with _pytest.raises(KafkaConfigError, match="missing"):
        kafka_sink_options({"topic": "pages"})
    with _pytest.raises(KafkaConfigError, match="serialization-type"):
        kafka_sink_options({"brokers": "b", "topic": "t", "serialization-type": "kryo"})


def test_table_changes_to_kafka_roundtrip(spark, tmp_path):
    """Lake changelog -> Kafka messages -> consumer decode reproduces the
    committed change rows, lineage columns included."""
    from pyspark.sql import functions as F

    from geomesa_nifi_spark.streaming.kafka import table_changes_to_kafka

    t = LakeTable.create(
        spark, str(tmp_path / "pages"), TABLE_SCHEMA,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset", num_buckets=4,
    )
    ch = _changes_df(spark, n=12)
    merge_changes(t, ch.filter(F.col("offset") < 6), batch_id="b0", mode="mor",
                  auto_compact=False)
    merge_changes(t, ch.filter(F.col("offset") >= 6), batch_id="b1", mode="mor",
                  auto_compact=False)

    recs, value_schema = table_changes_to_kafka(
        t, from_version=0, value_format="avro", records_per_message=4
    )
    assert [f.name for f in value_schema.fields] == [
        "url", "warc_ts", "offset", "text", "_commit_version", "_batch_id", "op",
    ]
    shaped = recs.select(
        "key", "value", F.lit("pages").alias("topic"), F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"), F.lit(0).alias("timestampType"),
    )
    back = kafka_records_to_changes(
        shaped, value_schema, include_lineage=False, value_format="avro"
    )
    got = {(r["url"], r["offset"], r["op"], r["_batch_id"]) for r in back.collect()}
    want = {
        (r["url"], r["offset"],
         "delete" if r["op"] == "delete" else "upsert",
         "b0" if r["offset"] < 6 else "b1")
        for r in ch.collect()
    }
    assert got == want

    # json variant decodes identically through the schema it returns
    recs_j, schema_j = table_changes_to_kafka(
        t, from_version=0, value_format="json", include_lineage=False
    )
    shaped_j = recs_j.select(
        "key", "value", F.lit("pages").alias("topic"), F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"), F.lit(0).alias("timestampType"),
    )
    back_j = kafka_records_to_changes(
        shaped_j, schema_j, include_lineage=False, value_format="json"
    )
    assert {(r["url"], r["offset"]) for r in back_j.collect()} == {
        (r["url"], r["offset"]) for r in ch.collect()
    }


def test_kafka_debezium_values(spark, tmp_path):
    """Debezium-envelope values through the standard Kafka record shape:
    decode -> merge == the same rows ingested natively; compaction
    tombstones (null value) are dropped; lineage columns survive."""
    from geomesa_nifi_spark.sources.debezium import encode_debezium

    payload_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_us", T.LongType()),
            T.StructField("offset", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    from pyspark.sql import functions as F

    base = spark.range(60).select(
        F.concat(F.lit("u"), (F.col("id") % 20).cast("string")).alias("url"),
        (F.col("id") * 1_000_000).alias("warc_us"),
        F.col("id").alias("offset"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
        F.when(F.col("id") % 8 == 0, "delete").otherwise("upsert").alias("op"),
        (F.col("id") * 1000).alias("ts_ms"),
        F.col("id").alias("lsn"),
    )
    wire = encode_debezium(base, ts_ms_col="ts_ms", lsn_col="lsn")
    recs = wire.select(
        F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit("pages").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("value").cast("string").alias("_x"),
    ).withColumn("offset", F.monotonically_increasing_id()).select(
        "key", "value", "topic", "partition", "offset",
        F.current_timestamp().alias("timestamp"), F.lit(0).alias("timestampType"),
    )
    # add one compaction tombstone record (null value) — must be dropped
    tomb = spark.createDataFrame(
        [(b"u0", None, "pages", 0, 10_000, dt.datetime(2024, 1, 1), 0)],
        KAFKA_RECORD_SCHEMA,
    )
    decoded = kafka_records_to_changes(
        recs.unionByName(tomb), payload_schema, value_format="debezium"
    )
    assert "_kafka_offset" in decoded.columns
    rows = decoded.collect()
    assert len(rows) == 60  # tombstone dropped
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        T.StructType([f for f in payload_schema.fields]),
        key_col="url", ts_col="warc_us", tiebreak_col="offset", num_buckets=4,
    )
    merge_changes(t, decoded.drop("dbz_ts_ms", "dbz_lsn",
                                  "_kafka_partition", "_kafka_offset"),
                  batch_id="dbz")
    direct = (
        base.withColumnRenamed("ts_ms", "_d1").drop("_d1", "lsn")
    )
    t2 = LakeTable.create(
        spark, str(tmp_path / "t2"),
        T.StructType([f for f in payload_schema.fields]),
        key_col="url", ts_col="warc_us", tiebreak_col="offset", num_buckets=4,
    )
    merge_changes(t2, direct, batch_id="native")
    got = sorted(map(tuple, t.scan().collect()))
    want = sorted(map(tuple, t2.scan().collect()))
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# Confluent Schema Registry wire format (sources/confluent.py)
# ---------------------------------------------------------------------------


def _registry_and_frame(rows, schema=VALUE_SCHEMA, subject="pages-value"):
    """Hand-frame rows with the engine's encoders: registry + wire bytes."""
    from geomesa_nifi_spark.functions.avro import (
        _make_nullable_encoder,
        spark_to_avro_schema,
    )
    from geomesa_nifi_spark.sources.confluent import InMemorySchemaRegistry

    reg = InMemorySchemaRegistry()
    sid = reg.register(subject, spark_to_avro_schema(schema))
    encs = [(f.name, _make_nullable_encoder(f.dataType)) for f in schema.fields]
    frames = []
    for row in rows:
        body = bytearray()
        for name, enc in encs:
            enc(body, row.get(name))
        frames.append(bytes([0]) + sid.to_bytes(4, "big") + bytes(body))
    return reg, sid, frames


def test_confluent_golden_framing(spark):
    """Golden bytes: magic 0x00, big-endian schema id, bare Avro body —
    and the consumer path decodes the hand-framed message exactly."""
    rows = [
        {"url": "u1", "warc_ts": dt.datetime(2024, 1, 1, 0, 0, 10),
         "offset": 1, "text": "v1", "op": "upsert"},
    ]
    reg, sid, frames = _registry_and_frame(rows)
    assert frames[0][0] == 0x00
    assert int.from_bytes(frames[0][1:5], "big") == sid == 1
    kafka_rows = [(b"u1", frames[0], "pages", 0, 7, dt.datetime(2024, 1, 1), 0)]
    df = spark.createDataFrame(kafka_rows, KAFKA_RECORD_SCHEMA)
    out = kafka_records_to_changes(
        df, VALUE_SCHEMA, value_format="confluent", registry=reg
    )
    got = out.collect()
    assert len(got) == 1
    r = got[0]
    assert r["url"] == "u1" and r["text"] == "v1" and r["op"] == "upsert"
    assert r["warc_ts"] == dt.datetime(2024, 1, 1, 0, 0, 10)
    assert r["_kafka_partition"] == 0 and r["_kafka_offset"] == 7


def test_confluent_producer_consumer_roundtrip(spark):
    """Engine-framed produce -> consume is the identity; keys carry the
    row key (key-partitioned topic shape); tombstones (null value) drop."""
    from geomesa_nifi_spark.sources.confluent import InMemorySchemaRegistry
    from geomesa_nifi_spark.streaming.kafka import changes_to_kafka_records

    reg = InMemorySchemaRegistry()
    ch = _changes_df(spark, 12)
    wire = changes_to_kafka_records(
        ch, key_col="url", value_format="confluent",
        registry=reg, subject="pages-value",
    )
    recs = wire.collect()
    assert len(recs) == 12
    assert all(r["value"][0] == 0 for r in recs)
    assert {bytes(r["key"]).decode() for r in recs} == {f"u{i}" for i in range(12)}
    import pyspark.sql.functions as F

    shaped = wire.select(
        "key", "value", F.lit("pages").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
    )
    # splice in a log-compaction tombstone: null value, must be dropped
    tomb = spark.createDataFrame(
        [(b"u0", None, "pages", 0, 999)],
        "key binary, value binary, topic string, partition int, offset long",
    )
    back = kafka_records_to_changes(
        shaped.unionByName(tomb), VALUE_SCHEMA, include_lineage=False,
        value_format="confluent", registry=reg,
    )
    got = {r["url"]: r for r in back.collect()}
    want = {r["url"]: r for r in ch.collect()}
    assert set(got) == set(want)
    for k in want:
        for c in ("warc_ts", "offset", "text", "op"):
            assert got[k][c] == want[k][c], (k, c)


def test_confluent_schema_evolution_by_id(spark):
    """A topic with messages from TWO writer schema versions (old one
    lacks `text`) decodes in one pass: each message resolves its writer
    schema by id, missing reader fields null-pad by name."""
    OLD = T.StructType([f for f in VALUE_SCHEMA.fields if f.name != "text"])
    old_rows = [{"url": "u-old", "warc_ts": dt.datetime(2024, 1, 1),
                 "offset": 1, "op": "upsert"}]
    reg, sid_old, old_frames = _registry_and_frame(old_rows, schema=OLD)
    from geomesa_nifi_spark.functions.avro import spark_to_avro_schema

    sid_new = reg.register("pages-value", spark_to_avro_schema(VALUE_SCHEMA))
    assert sid_new != sid_old
    assert reg.latest("pages-value")[0] == sid_new
    from geomesa_nifi_spark.functions.avro import _make_nullable_encoder

    encs = [(f.name, _make_nullable_encoder(f.dataType)) for f in VALUE_SCHEMA.fields]
    body = bytearray()
    new_row = {"url": "u-new", "warc_ts": dt.datetime(2024, 1, 2),
               "offset": 2, "text": "fresh", "op": "upsert"}
    for name, enc in encs:
        enc(body, new_row.get(name))
    new_frame = bytes([0]) + sid_new.to_bytes(4, "big") + bytes(body)
    kafka_rows = [
        (b"a", old_frames[0], "pages", 0, 1, dt.datetime(2024, 1, 1), 0),
        (b"b", new_frame, "pages", 0, 2, dt.datetime(2024, 1, 1), 0),
    ]
    df = spark.createDataFrame(kafka_rows, KAFKA_RECORD_SCHEMA)
    out = kafka_records_to_changes(
        df, VALUE_SCHEMA, value_format="confluent", registry=reg
    )
    got = {r["url"]: r for r in out.collect()}
    assert got["u-old"]["text"] is None
    assert got["u-new"]["text"] == "fresh"


def test_confluent_bad_framing_and_unknown_id(spark):
    import pytest as _pytest

    from geomesa_nifi_spark.sources.confluent import (
        InMemorySchemaRegistry,
        SchemaRegistryError,
    )
    from geomesa_nifi_spark.streaming.kafka import KafkaConfigError

    reg, _sid, frames = _registry_and_frame(
        [{"url": "u1", "warc_ts": dt.datetime(2024, 1, 1), "offset": 1,
          "text": "x", "op": "upsert"}]
    )
    # wrong magic
    bad = spark.createDataFrame(
        [(b"k", b"\x01" + frames[0][1:], "pages", 0, 1, dt.datetime(2024, 1, 1), 0)],
        KAFKA_RECORD_SCHEMA,
    )
    with _pytest.raises(Exception, match="not Confluent-framed"):
        kafka_records_to_changes(
            bad, VALUE_SCHEMA, value_format="confluent", registry=reg
        ).collect()
    # unknown id
    unk = spark.createDataFrame(
        [(b"k", b"\x00" + (777).to_bytes(4, "big") + frames[0][5:],
          "pages", 0, 1, dt.datetime(2024, 1, 1), 0)],
        KAFKA_RECORD_SCHEMA,
    )
    with _pytest.raises(Exception, match="not in registry"):
        kafka_records_to_changes(
            unk, VALUE_SCHEMA, value_format="confluent", registry=reg
        ).collect()
    # registry is required
    df = spark.createDataFrame([], KAFKA_RECORD_SCHEMA)
    with _pytest.raises(KafkaConfigError, match="registry"):
        kafka_records_to_changes(df, VALUE_SCHEMA, value_format="confluent")
    # registry itself fails loudly on an empty subject
    with _pytest.raises(SchemaRegistryError, match="no versions"):
        InMemorySchemaRegistry().latest("nope")


def test_avro_value_formats_keep_nan_and_exact_int64(spark):
    """One batch mixing a NaN double with a null one, and a large int64 with
    a null one, decodes exactly through both Avro value formats: NaN stays
    NaN (not null) and 2**62 + 1 is not rounded through float64."""
    import math

    from geomesa_nifi_spark.functions.avro import _encode_container

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("big", T.LongType()),
        ]
    )
    rows = [
        {"url": "a", "score": float("nan"), "big": 2**62 + 1},
        {"url": "b", "score": 1.5, "big": None},
    ]
    ts = dt.datetime(2024, 1, 1)
    reg, _sid, frames = _registry_and_frame(rows, schema=schema)
    cases = {
        "avro": ([(b"k", _encode_container(schema, rows), "pages", 0, 7, ts, 0)], {}),
        "confluent": (
            [(b"a", frames[0], "pages", 0, 7, ts, 0), (b"b", frames[1], "pages", 0, 8, ts, 0)],
            {"registry": reg},
        ),
    }
    for fmt, (kafka_rows, kw) in cases.items():
        # one partition: both records share one Arrow batch
        df = spark.createDataFrame(kafka_rows, KAFKA_RECORD_SCHEMA).coalesce(1)
        out = kafka_records_to_changes(df, schema, value_format=fmt, **kw)
        got = {r["url"]: r for r in out.collect()}
        score = got["a"]["score"]
        assert score is not None and math.isnan(score), (fmt, score)
        assert got["a"]["big"] == 2**62 + 1, (fmt, got["a"]["big"])
        assert got["b"]["score"] == 1.5 and got["b"]["big"] is None, fmt
