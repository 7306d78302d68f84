"""Confluent Schema Registry wire format -> the engine's change contract.

The reference consumes registry-backed Kafka topics through its Confluent
store service (``ConfluentKafkaDataStoreService.scala:23-42`` —
``SchemaRegistryUrl``, ``SchemaOverrides``): message values carry the
public Confluent framing, NOT a self-describing container:

    byte 0        magic 0x00
    bytes 1-4     schema id, big-endian int32
    bytes 5..     bare Avro binary body (no header, no sync markers)

This module implements that framing over the engine's own Avro codec
(``functions/avro.py``), with the registry itself injected as a plain
id<->schema mapping (:class:`InMemorySchemaRegistry`) — the subject/id
model is Confluent's, the transport (an HTTP client in production) is the
caller's concern, exactly like ``SchemaOverrides`` lets the reference pin
schemas without a live registry.  Nothing here does network IO, so the
decode path is testable and replayable offline.

Schema evolution falls out of the id indirection: every message names its
WRITER schema by id, the decoder decodes with that schema and conforms to
the caller's reader schema by field name (missing fields null-pad, extra
fields drop) — the same by-name adaptation contract as the GeoAvro
container path (``AvroToPutGeoMesa.scala:60-78``).

Scale shape: encode/decode are per-record Python over Arrow batches
(``mapInArrow``), one task per input partition, no shuffle — the same
per-record ceiling as the GeoAvro container decode.  Registry-framed
topics are one-record-per-message by construction, so there is no
container amortization to lose.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = [
    "InMemorySchemaRegistry",
    "SchemaRegistryError",
    "confluent_encode_records",
    "confluent_decode_records",
    "CONFLUENT_MAGIC",
]

#: first byte of every registry-framed message
CONFLUENT_MAGIC = 0x00


class SchemaRegistryError(ValueError):
    """Unknown schema id, bad framing, or an unregistered subject."""


class InMemorySchemaRegistry:
    """Dict-backed subject/id registry with Confluent's semantics.

    * ids are small sequential ints (like a real registry), assigned at
      ``register`` time and deduplicated on the canonical schema JSON —
      re-registering an identical schema returns the existing id.
    * a subject holds an ordered version list; ``latest`` returns the
      newest (id, schema) pair, which is what producers pin.

    Instances are plain picklable data, so the SAME object that framed
    the stream ships inside the executor-side decode closure — no
    ambient service, no environment variable, no network.
    """

    def __init__(self) -> None:
        self._json_by_id: dict[int, str] = {}
        self._id_by_json: dict[str, int] = {}
        self._subjects: dict[str, list[int]] = {}

    def register(self, subject: str, avro_schema: dict) -> int:
        canonical = json.dumps(avro_schema, sort_keys=True)
        sid = self._id_by_json.get(canonical)
        if sid is None:
            sid = len(self._json_by_id) + 1
            self._json_by_id[sid] = canonical
            self._id_by_json[canonical] = sid
        versions = self._subjects.setdefault(subject, [])
        if sid not in versions:
            versions.append(sid)
        return sid

    def by_id(self, schema_id: int) -> dict:
        try:
            return json.loads(self._json_by_id[schema_id])
        except KeyError:
            raise SchemaRegistryError(
                f"schema id {schema_id} not in registry (known: "
                f"{sorted(self._json_by_id)})"
            ) from None

    def latest(self, subject: str) -> tuple[int, dict]:
        versions = self._subjects.get(subject)
        if not versions:
            raise SchemaRegistryError(f"subject {subject!r} has no versions")
        sid = versions[-1]
        return sid, json.loads(self._json_by_id[sid])


def confluent_encode_records(
    df: DataFrame,
    key_col: str,
    registry: InMemorySchemaRegistry,
    subject: str,
) -> DataFrame:
    """Encode change rows as registry-framed Kafka (key, value) pairs —
    one record per message, key = the row's key column bytes (Confluent's
    key-partitioned topic shape, so per-key ordering survives the topic).

    The writer schema (derived from ``df.schema``) is registered under
    ``subject`` ON THE DRIVER before any task runs; tasks embed only the
    returned id.  Registering per task would race id assignment."""
    from geomesa_nifi_spark.functions.avro import (
        _make_nullable_encoder,
        spark_to_avro_schema,
    )

    schema = df.schema
    schema_id = registry.register(subject, spark_to_avro_schema(schema))
    names = [f.name for f in schema.fields]
    encoders = [(f.name, _make_nullable_encoder(f.dataType)) for f in schema.fields]
    prefix = bytes([CONFLUENT_MAGIC]) + int(schema_id).to_bytes(4, "big")

    def encode(batches):
        import pyarrow as pa

        out_pa = pa.schema([("key", pa.binary()), ("value", pa.binary())])
        for batch in batches:
            keys: list[bytes | None] = []
            vals: list[bytes] = []
            for rec in batch.to_pylist():
                body = bytearray()
                for name, enc in encoders:
                    enc(body, rec.get(name))
                k = rec.get(key_col)
                keys.append(str(k).encode() if k is not None else None)
                vals.append(prefix + bytes(body))
            yield pa.RecordBatch.from_pydict(
                {"key": keys, "value": vals}, schema=out_pa
            )

    return df.select(*names).mapInArrow(encode, "key binary, value binary")


def confluent_decode_records(
    df: DataFrame,
    value_schema: T.StructType,
    registry: InMemorySchemaRegistry,
    include_lineage: bool = True,
) -> DataFrame:
    """Decode registry-framed Kafka records into typed change rows.

    Each message resolves its WRITER schema from ``registry`` by the
    embedded id, decodes with that schema, and conforms to
    ``value_schema`` by name — so a topic whose producer evolved the
    schema additively decodes in one pass, old and new messages together
    (null-padded where the writer schema lacked a reader field).

    Bad framing (wrong magic, truncated header) and unknown ids raise
    :class:`SchemaRegistryError` loudly — a mis-pointed topic must not
    decode to garbage rows.  Null values (log-compaction tombstones)
    are dropped, same as the Debezium path."""
    from pyspark.sql import functions as F

    out_fields = list(value_schema.fields)
    if include_lineage:
        out_fields += [
            T.StructField("_kafka_partition", T.IntegerType()),
            T.StructField("_kafka_offset", T.LongType()),
        ]
    out_schema = T.StructType(out_fields)
    reader_names = [f.name for f in value_schema.fields]

    def decode(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from geomesa_nifi_spark.functions.avro import (
            _Reader,
            _make_nullable_decoder,
            avro_to_spark_schema,
        )

        # per-id decoder plans, built once per task from the registry the
        # closure carries: [(writer field name, decoder)] in WRITER order —
        # Avro binary bodies decode strictly in writer field order
        plans: dict[int, list[tuple[str, object]]] = {}

        def plan_for(sid: int):
            plan = plans.get(sid)
            if plan is None:
                avro = registry.by_id(sid)
                wschema = avro_to_spark_schema(avro)
                avro_fields = {f["name"]: f["type"] for f in avro.get("fields", [])}
                plan = [
                    (f.name, _make_nullable_decoder(f.dataType, avro_fields.get(f.name)))
                    for f in wschema.fields
                ]
                plans[sid] = plan
            return plan

        arrow_schema = to_arrow_schema(out_schema)
        for batch in batches:
            acc: dict[str, list] = {n: [] for n in reader_names}
            # compaction tombstones (null values) were filtered out before
            # the boundary, so every message yields exactly one record
            for raw in batch.column("value").to_pylist():
                if len(raw) < 5 or raw[0] != CONFLUENT_MAGIC:
                    raise SchemaRegistryError(
                        "value is not Confluent-framed (expected magic 0x00 "
                        f"+ 4-byte schema id; got {raw[:5]!r})"
                    )
                sid = int.from_bytes(raw[1:5], "big")
                r = _Reader(raw)
                r.pos = 5
                rec = {name: dec(r) for name, dec in plan_for(sid)}
                for n in reader_names:
                    acc[n].append(rec.get(n))
            if include_lineage:
                acc["_kafka_partition"] = batch.column("partition")
                acc["_kafka_offset"] = batch.column("offset")
            yield pa.RecordBatch.from_pydict(acc, schema=arrow_schema)

    return (
        df.filter(F.col("value").isNotNull())
        .select("value", "partition", "offset")
        .mapInArrow(decode, out_schema)
    )
