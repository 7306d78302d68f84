"""Kafka source shim: reference consumer options -> Structured Streaming.

The reference's Kafka record source (``GetGeoMesaKafkaRecord.scala:313-451``)
is configured with processor properties; this module translates the same
knobs to ``spark.readStream.format("kafka")`` options so a deployment with
the spark-sql-kafka jar swaps the file source for Kafka without touching the
pipeline:

    reference property           spark option / mechanism
    ------------------           ------------------------
    Kafka Brokers (:330)         kafka.bootstrap.servers
    Kafka Topics                 subscribe
    Consumer Group ID (:336)     kafka.group.id + checkpoint dir naming —
                                 offsets are owned by the CHECKPOINT, the
                                 group id exists only for lag monitoring
    Record Maximum Batch Size    maxOffsetsPerTrigger (:382-390)
    Initial Offset (:343)        startingOffsets latest|earliest
    Consumer Count (:339)        minPartitions (Spark splits partitions
                                 across tasks; consumer threads are not a
                                 user knob in the micro-batch model)
    Max Latency (:392-420)       trigger(processingTime=...), applied by the
                                 caller on writeStream, returned as metadata

Commit-after-ack discipline (:298-302) is inherent here: the checkpoint
records offsets only after ``foreachBatch`` returns, and the ledger's batch
ids make the redelivered epoch a no-op (exactly-once end to end).

The spark-sql-kafka jar is not present in this environment, so
``read_kafka_stream`` raises a clear error at ``load()`` time; the option
mapping itself is pure and unit-tested.
"""

from __future__ import annotations

from dataclasses import dataclass


class KafkaConfigError(ValueError):
    pass


_INITIAL_OFFSETS = {"latest": "latest", "earliest": "earliest"}


@dataclass(frozen=True)
class KafkaPlan:
    """Resolved source options + the trigger/checkpoint the caller applies."""

    options: dict[str, str]
    trigger_processing_time: str | None
    checkpoint_suffix: str


def kafka_source_options(config: dict) -> KafkaPlan:
    """Translate reference-style consumer properties to Spark Kafka options.

    ``config`` keys (reference property names, lower-kebab):
      brokers (required), topic (required), group-id (required),
      batch-size (records/trigger), initial-offset (latest|earliest),
      consumer-count, max-latency-ms.
    """
    missing = [k for k in ("brokers", "topic", "group-id") if not config.get(k)]
    if missing:
        raise KafkaConfigError(f"missing required kafka config: {missing}")

    opts: dict[str, str] = {
        "kafka.bootstrap.servers": str(config["brokers"]),
        "subscribe": str(config["topic"]),
        # group id is observability-only under Structured Streaming: offsets
        # live in the checkpoint (commit-after-ack), never in the broker
        "kafka.group.id": str(config["group-id"]),
        # the processor fails fast on missing topics; match that
        "failOnDataLoss": "true",
    }

    initial = str(config.get("initial-offset", "latest")).lower()
    if initial not in _INITIAL_OFFSETS:
        raise KafkaConfigError(f"initial-offset must be latest|earliest, got {initial!r}")
    opts["startingOffsets"] = _INITIAL_OFFSETS[initial]

    if "batch-size" in config:
        n = int(config["batch-size"])
        if n <= 0:
            raise KafkaConfigError("batch-size must be positive")
        opts["maxOffsetsPerTrigger"] = str(n)

    if "consumer-count" in config:
        n = int(config["consumer-count"])
        if n <= 0:
            raise KafkaConfigError("consumer-count must be positive")
        opts["minPartitions"] = str(n)

    trigger = None
    if "max-latency-ms" in config:
        ms = int(config["max-latency-ms"])
        if ms <= 0:
            raise KafkaConfigError("max-latency-ms must be positive")
        trigger = f"{ms} milliseconds"

    # one checkpoint per (group, topic): re-using the group id for the
    # checkpoint path gives the reference's consumer-group resume semantics
    suffix = f"kafka-{config['group-id']}-{config['topic']}"
    return KafkaPlan(options=opts, trigger_processing_time=trigger, checkpoint_suffix=suffix)


#: The standard Kafka source schema — what ``read_kafka_stream`` yields and
#: what any FAKE source must produce for the contract test
#: (``tests/test_kafka_contract.py``): the downstream pipeline is defined
#: entirely over these columns, so a file-backed stream with this schema
#: exercises every line except the broker connection itself.
KAFKA_RECORD_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)

#: Microsecond-precision ISO-8601 for JSON message values.  Spark's default
#: ``timestampFormat`` truncates to milliseconds, which silently breaks the
#: produce→consume identity on microsecond event times (LWW tiebreaks flip);
#: both the producer encode and the consumer decode pin this format.
_JSON_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def kafka_records_to_changes(
    df,
    value_schema,
    include_lineage: bool = True,
    value_format: str = "json",
    registry=None,
):
    """Decode Kafka records into typed change events — the per-record
    conversion the reference applies with its RecordReader
    (``GetGeoMesaKafkaRecord.scala:271-302``), source-agnostic: works on the
    real Kafka source's output or any frame with the same columns.

    ``value_format="json"``: ``value`` parses as JSON against
    ``value_schema`` (JVM ``from_json``, codegen).
    ``value_format="avro"``: each ``value`` is a self-describing Avro
    object-container (the reference's GeoAvro-over-Kafka shape,
    ``GeoAvroRecordSetWriterFactory``), decoded with the engine's own codec
    and conformed to ``value_schema`` by name — one message may carry many
    records.

    ``value_format="debezium"`` / ``"debezium-flat"``: the value is a
    Debezium change-event envelope (full, or flattened by the
    ExtractNewRecordState SMT) over a row type of ``value_schema``
    (``sources/debezium.py``); log-compaction tombstones (null value) are
    dropped, and the output carries ``op``/``dbz_ts_ms``/``dbz_lsn`` on
    top of the payload columns.

    ``value_format="confluent"``: the value carries the Confluent Schema
    Registry framing (magic 0x00 + 4-byte schema id + bare Avro body,
    ``sources/confluent.py`` ≙ ``ConfluentKafkaDataStoreService.scala:
    23-42``); pass ``registry`` (an ``InMemorySchemaRegistry`` or any
    object with ``by_id``) to resolve writer schemas — decoded rows
    conform to ``value_schema`` by name, so additive producer-side
    schema evolution decodes in one pass.

    The Kafka coordinates ride along as ``_kafka_partition`` /
    ``_kafka_offset`` lineage columns so per-partition offset ranges land
    in the commit lineage."""
    from pyspark.sql import functions as F

    if value_format == "json":
        out = df.select(
            F.from_json(
                F.col("value").cast("string"),
                value_schema,
                {"timestampFormat": _JSON_TS_FORMAT},
            ).alias("r"),
            F.col("partition").alias("_kafka_partition"),
            F.col("offset").alias("_kafka_offset"),
        )
        cols = ["r.*"]
        if include_lineage:
            cols += ["_kafka_partition", "_kafka_offset"]
        return out.select(*cols)
    if value_format in ("debezium", "debezium-flat"):
        from geomesa_nifi_spark.sources.debezium import (
            debezium_flat_to_changes,
            debezium_to_changes,
        )

        src = df.filter(F.col("value").isNotNull()).select(
            "value",
            F.col("partition").alias("_kafka_partition"),
            F.col("offset").alias("_kafka_offset"),
        )
        decode = (
            debezium_flat_to_changes
            if value_format == "debezium-flat"
            else debezium_to_changes
        )
        pt = ("_kafka_partition", "_kafka_offset") if include_lineage else ()
        return decode(src, value_schema, passthrough=pt)
    if value_format == "confluent":
        from geomesa_nifi_spark.sources.confluent import confluent_decode_records

        if registry is None:
            raise KafkaConfigError(
                "value_format='confluent' requires a registry (the schema-id "
                "mapping; see sources/confluent.py InMemorySchemaRegistry)"
            )
        return confluent_decode_records(
            df, value_schema, registry, include_lineage=include_lineage
        )
    if value_format != "avro":
        raise KafkaConfigError(
            "value_format must be json|avro|confluent|debezium|debezium-flat, "
            f"got {value_format!r}"
        )

    from pyspark.sql import types as T

    out_fields = list(value_schema.fields)
    if include_lineage:
        out_fields += [
            T.StructField("_kafka_partition", T.IntegerType()),
            T.StructField("_kafka_offset", T.LongType()),
        ]
    out_schema = T.StructType(out_fields)
    out_names = [f.name for f in out_fields]

    def decode(batches):
        import numpy as np
        import pyarrow as pa

        from geomesa_nifi_spark.functions.avro import _decode_containers

        for batch in batches:
            out, counts = _decode_containers(batch.column("value").to_pylist(), value_schema)
            if include_lineage:
                # each message's coordinates, repeated once per record it holds
                owner = pa.array(np.repeat(np.arange(len(counts)), counts))
                out = pa.RecordBatch.from_arrays(
                    out.columns
                    + [batch.column("partition").take(owner), batch.column("offset").take(owner)],
                    names=out_names,
                )
            yield out

    return df.select("value", "partition", "offset").mapInArrow(decode, out_schema)


def read_kafka_stream(spark, config: dict):
    """Build the streaming DataFrame (requires the spark-sql-kafka jar).

    Returns (df, plan): ``df`` has the standard Kafka columns (key, value,
    topic, partition, offset, timestamp); callers convert ``value`` with the
    converter layer and hand batches to the same ``foreachBatch`` body the
    file pipeline uses.
    """
    plan = kafka_source_options(config)
    reader = spark.readStream.format("kafka")
    for k, v in plan.options.items():
        reader = reader.option(k, v)
    return reader.load(), plan


# ---------------------------------------------------------------------------
# producer side (PutGeoMesaKafka / KafkaDataStoreService, the egress sink)
# ---------------------------------------------------------------------------

_SERIALIZATION_TYPES = ("json", "avro")


def kafka_sink_options(config: dict) -> KafkaPlan:
    """Translate reference-style PRODUCER properties to Spark Kafka sink
    options (``KafkaDataStoreService.scala:27-47`` — Brokers,
    ProducerConfig, SerializationType; the reference's GeoMesa Kafka store
    in producer mode, consumer count pinned to 0 at ``:23-25``).

    ``config`` keys: brokers (required), topic (required),
    serialization-type (json|avro, default json), producer-config (dict of
    raw kafka producer properties, passed through as ``kafka.*``).
    Topic partition/replication counts (``TopicPartitions``/
    ``TopicReplication``) are broker-admin concerns the Spark writer cannot
    apply — create the topic out of band, exactly like the reference's
    store does on ``createSchema``."""
    missing = [k for k in ("brokers", "topic") if not config.get(k)]
    if missing:
        raise KafkaConfigError(f"missing required kafka sink config: {missing}")
    ser = str(config.get("serialization-type", "json")).lower()
    if ser not in _SERIALIZATION_TYPES:
        raise KafkaConfigError(
            f"serialization-type must be one of {_SERIALIZATION_TYPES}, got {ser!r}"
        )
    opts: dict[str, str] = {
        "kafka.bootstrap.servers": str(config["brokers"]),
        "topic": str(config["topic"]),
    }
    for k, v in dict(config.get("producer-config") or {}).items():
        opts[f"kafka.{k}"] = str(v)
    return KafkaPlan(
        options=opts,
        trigger_processing_time=None,
        checkpoint_suffix=f"kafka-sink-{config['topic']}",
    )


def changes_to_kafka_records(
    df,
    key_col: str,
    value_format: str = "json",
    records_per_message: int = 500,
    registry=None,
    subject: str = None,
):
    """Encode change rows into Kafka (key, value) pairs — the inverse of
    :func:`kafka_records_to_changes`, so a produce/consume round trip is
    the identity (contract-tested without a broker).

    ``value_format="json"``: one message per row, key = the row's key
    column bytes, value = JSON — pure codegen, the scale path.
    ``value_format="avro"``: rows batch into self-describing GeoAvro
    object-container messages of up to ``records_per_message`` records
    (the reference's GeoAvro-over-Kafka shape); key = null (the container
    carries the fids).  Message framing is per input partition, so
    producing never shuffles.
    ``value_format="confluent"``: one registry-framed message per row
    (magic 0x00 + schema id + bare Avro body); requires ``registry`` and
    ``subject`` — the writer schema registers once on the driver
    (``sources/confluent.py``)."""
    from pyspark.sql import functions as F

    if value_format == "confluent":
        from geomesa_nifi_spark.sources.confluent import confluent_encode_records

        if registry is None or not subject:
            raise KafkaConfigError(
                "value_format='confluent' requires registry and subject"
            )
        return confluent_encode_records(df, key_col, registry, subject)
    if value_format == "json":
        return df.select(
            F.col(key_col).cast("string").cast("binary").alias("key"),
            F.to_json(
                F.struct(*df.columns), {"timestampFormat": _JSON_TS_FORMAT}
            ).cast("binary").alias("value"),
        )
    if value_format != "avro":
        raise KafkaConfigError(f"value_format must be json|avro, got {value_format!r}")

    schema = df.schema

    def encode(batches):
        import hashlib

        import pyarrow as pa

        from geomesa_nifi_spark.functions.avro import _encode_container

        names = [f.name for f in schema.fields]
        out_pa = pa.schema([("key", pa.binary()), ("value", pa.binary())])
        pending: list[dict] = []

        def message(rows):
            # deterministic sync marker: retried tasks re-produce
            # byte-identical messages (at-least-once redelivery dedupes
            # downstream on content, not luck)
            seed = hashlib.md5(repr([r.get(names[0]) for r in rows[:3]]).encode())
            data = _encode_container(schema, rows, sync=seed.digest())
            return {"key": None, "value": data}

        for batch in batches:
            # to_pylist: Python-native values (datetime/int/bytes) — the
            # exact row shape the container encoder is written against
            for rec in batch.to_pylist():
                pending.append({n: rec[n] for n in names})
                if len(pending) >= records_per_message:
                    yield pa.RecordBatch.from_pylist([message(pending)], schema=out_pa)
                    pending = []
        if pending:
            yield pa.RecordBatch.from_pylist([message(pending)], schema=out_pa)

    return df.mapInArrow(encode, "key binary, value binary")


def table_changes_to_kafka(
    table,
    from_version: int = 0,
    to_version: int | None = None,
    value_format: str = "json",
    records_per_message: int = 500,
    include_lineage: bool = True,
):
    """Encode a table's changelog as Kafka messages — the full store→topic
    egress the reference runs as a GeoMesa Kafka store in producer mode
    (``KafkaDataStoreService`` feeding ``GetGeoMesaKafkaRecord`` consumers).

    Composition: :func:`~geomesa_nifi_spark.streaming.changes.table_changes`
    (ledger-driven change rows for versions ``(from_version, to_version]``)
    → ``_change_type`` folded into the engine's ``op`` column convention →
    :func:`changes_to_kafka_records`.  The produced messages decode back to
    the exact change rows with :func:`kafka_records_to_changes` (contract:
    ``tests/test_kafka_contract.py``; gate ``cdc_changes_kafka``).

    ``include_lineage`` keeps ``_commit_version``/``_batch_id`` in the
    message payload so consumers can resume from a table version.  Returns
    ``(messages_df, value_schema)``: feed ``messages_df`` to
    :func:`write_kafka_stream` / a batch Kafka write, and hand
    ``value_schema`` to consumers for the JSON decode path.
    """
    from pyspark.sql import functions as F

    from geomesa_nifi_spark.streaming.changes import table_changes

    ch = table_changes(table, from_version=from_version, to_version=to_version)
    df = ch.withColumn(
        "op",
        F.when(F.col("_change_type") == "delete", F.lit("delete")).otherwise(
            F.lit("upsert")
        ),
    ).drop("_change_type")
    if not include_lineage:
        df = df.drop("_commit_version", "_batch_id")
    recs = changes_to_kafka_records(
        df,
        key_col=table.key_col,
        value_format=value_format,
        records_per_message=records_per_message,
    )
    return recs, df.schema


def write_kafka_stream(df, config: dict, checkpoint_dir: str):
    """Start a streaming write to Kafka (requires the spark-sql-kafka jar).

    ``df`` must already have ``key``/``value`` binary columns
    (:func:`changes_to_kafka_records`)."""
    plan = kafka_sink_options(config)
    writer = df.writeStream.format("kafka").option("checkpointLocation", checkpoint_dir)
    for k, v in plan.options.items():
        writer = writer.option(k, v)
    return writer.start(), plan
