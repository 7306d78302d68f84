"""Avro object-container files: a dependency-free reader/writer.

Closes the two SURVEY.md §2 rows that round 1 left open for want of a
runtime jar / Python avro lib:

* ``AvroToPutGeoMesa`` (reference: ingest GeoAvro files,
  ``geomesa-datastore-bundle/.../AvroToPutGeoMesa.scala:33-90``) —
  ``read_avro`` turns a directory of container files into a DataFrame whose
  schema is recovered from the files themselves; feeding that into
  ``merge_changes``/``append_only`` reproduces the processor (including the
  schema-adapter behavior: by-name writes, missing columns null-padded).
* ``GeoAvroRecordSetWriterFactory`` (reference: write features as Avro with
  the schema embedded, ``records/GeoAvroRecordSetWriterFactory.scala:27-87``)
  — ``write_avro`` / ``write_avro_file`` emit standard container files any
  Avro implementation can read.

The codec implements the public Avro 1.11 spec (binary encoding + object
container framing): zig-zag varint ints/longs, little-endian IEEE floats,
length-prefixed bytes/strings, index-prefixed unions, block-framed
arrays/maps, ``null``/``deflate`` codecs (deflate = raw RFC-1951, zlib
wbits=-15), and the timestamp-micros / local-timestamp-micros / date
logical types.

Scale shape: encoding/decoding is per-row Python — matching the
reference's row-at-a-time Avro path — but it is *distributed*: the reader
fans one task per container file (``binaryFile`` source -> ``mapInArrow``)
and the writer emits one file per partition, so throughput scales with
executors.  Avro here is an interchange format; the CDC hot path stays on
parquet + JVM expressions.
"""

from __future__ import annotations

import io
import json
import os
import struct
import uuid
import zlib
from typing import Any, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAGIC = b"Obj\x01"
SYNC_SIZE = 16
_DEFAULT_BLOCK_ROWS = 4096
#: driver-committed list of part files for a write_avro directory; read_avro
#: trusts it over a raw listdir so stale parts from a differently-partitioned
#: failed attempt are never double-counted
_MANIFEST = "_manifest.json"

# ---------------------------------------------------------------------------
# schema mapping (Spark StructType <-> Avro record schema)
# ---------------------------------------------------------------------------

_PRIMITIVES: dict[type, Any] = {
    T.StringType: "string",
    T.LongType: "long",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.DoubleType: "double",
    T.FloatType: "float",
    T.BooleanType: "boolean",
    T.BinaryType: "bytes",
}


def spark_to_avro_schema(schema: T.StructType, name: str = "record") -> dict:
    """Spark StructType -> Avro record schema; every field nullable
    (``["null", T]``), matching the reference's GeoAvro output where any
    attribute may be unset."""

    def field_type(dt: T.DataType, path: str) -> Any:
        for cls, avro in _PRIMITIVES.items():
            if isinstance(dt, cls):
                return avro
        if isinstance(dt, T.TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.TimestampNTZType):
            return {"type": "long", "logicalType": "local-timestamp-micros"}
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, T.ArrayType):
            return {"type": "array", "items": nullable(dt.elementType, path + ".item")}
        if isinstance(dt, T.MapType):
            if not isinstance(dt.keyType, T.StringType):
                raise ValueError(f"avro maps require string keys at {path}")
            return {"type": "map", "values": nullable(dt.valueType, path + ".value")}
        if isinstance(dt, T.StructType):
            return record_of(dt, path.replace(".", "_"))
        raise ValueError(f"unsupported Spark type for avro at {path}: {dt}")

    def nullable(dt: T.DataType, path: str) -> list:
        return ["null", field_type(dt, path)]

    def record_of(st: T.StructType, rec_name: str) -> dict:
        return {
            "type": "record",
            "name": rec_name,
            "fields": [
                {"name": f.name, "type": nullable(f.dataType, f"{rec_name}.{f.name}"), "default": None}
                for f in st.fields
            ],
        }

    return record_of(schema, name)


def avro_to_spark_schema(avro: dict) -> T.StructType:
    """Avro record schema -> Spark StructType (inverse of the above,
    accepting any spec-conformant nullable-union layout)."""

    def of(t: Any) -> T.DataType:
        if isinstance(t, list):  # union: strip null, require a single branch
            branches = [b for b in t if b != "null"]
            if len(branches) != 1:
                raise ValueError(f"unsupported avro union {t}")
            return of(branches[0])
        if isinstance(t, dict):
            lt = t.get("logicalType")
            if lt == "timestamp-micros" or lt == "timestamp-millis":
                return T.TimestampType()
            if lt == "local-timestamp-micros" or lt == "local-timestamp-millis":
                return T.TimestampNTZType()
            if lt == "date":
                return T.DateType()
            kind = t["type"]
            if kind == "array":
                return T.ArrayType(of(t["items"]))
            if kind == "map":
                return T.MapType(T.StringType(), of(t["values"]))
            if kind == "record":
                return T.StructType(
                    [T.StructField(f["name"], of(f["type"]), True) for f in t["fields"]]
                )
            return of(kind)
        prim = {
            "string": T.StringType(),
            "long": T.LongType(),
            "int": T.IntegerType(),
            "double": T.DoubleType(),
            "float": T.FloatType(),
            "boolean": T.BooleanType(),
            "bytes": T.BinaryType(),
        }
        if t in prim:
            return prim[t]
        raise ValueError(f"unsupported avro type {t!r}")

    if avro.get("type") != "record":
        raise ValueError("top-level avro schema must be a record")
    return T.StructType([T.StructField(f["name"], of(f["type"]), True) for f in avro["fields"]])


# ---------------------------------------------------------------------------
# binary encoding
# ---------------------------------------------------------------------------


def _zigzag_encode(buf: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


class _Reader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def long(self) -> int:
        shift = 0
        acc = 0
        while True:
            b = self.data[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def bytes_(self) -> bytes:
        n = self.long()
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def fixed(self, n: int) -> bytes:
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out


def _make_encoder(dt: T.DataType):
    """Closure-per-type value encoder (built once per schema, not per row)."""
    import datetime

    if isinstance(dt, (T.StringType,)):
        def enc(buf, v):
            b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            _zigzag_encode(buf, len(b))
            buf.extend(b)
    elif isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        def enc(buf, v):
            _zigzag_encode(buf, int(v))
    elif isinstance(dt, T.DoubleType):
        def enc(buf, v):
            buf.extend(struct.pack("<d", float(v)))
    elif isinstance(dt, T.FloatType):
        def enc(buf, v):
            buf.extend(struct.pack("<f", float(v)))
    elif isinstance(dt, T.BooleanType):
        def enc(buf, v):
            buf.append(1 if v else 0)
    elif isinstance(dt, T.BinaryType):
        def enc(buf, v):
            b = bytes(v)
            _zigzag_encode(buf, len(b))
            buf.extend(b)
    elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        epoch = datetime.datetime(1970, 1, 1)
        epoch_utc = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

        def enc(buf, v):
            if v.tzinfo is None:
                delta = v - epoch
            else:
                delta = v - epoch_utc
            micros = (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
            _zigzag_encode(buf, micros)
    elif isinstance(dt, T.DateType):
        epoch_d = datetime.date(1970, 1, 1)

        def enc(buf, v):
            _zigzag_encode(buf, (v - epoch_d).days)
    elif isinstance(dt, T.ArrayType):
        item = _make_nullable_encoder(dt.elementType)

        def enc(buf, v):
            items = list(v)
            if items:
                _zigzag_encode(buf, len(items))
                for x in items:
                    item(buf, x)
            buf.append(0)  # end of blocks
    elif isinstance(dt, T.MapType):
        val = _make_nullable_encoder(dt.valueType)

        def enc(buf, v):
            # dicts from Row paths, [(k, v), ...] from Arrow's to_pylist
            entries = list(v.items()) if hasattr(v, "items") else list(v)
            if entries:
                _zigzag_encode(buf, len(entries))
                for k, x in entries:
                    kb = k.encode("utf-8")
                    _zigzag_encode(buf, len(kb))
                    buf.extend(kb)
                    val(buf, x)
            buf.append(0)
    elif isinstance(dt, T.StructType):
        subs = [(f.name, _make_nullable_encoder(f.dataType)) for f in dt.fields]

        def enc(buf, v):
            for name, sub in subs:
                sub(buf, v.get(name) if isinstance(v, dict) else getattr(v, name))
    else:
        raise ValueError(f"unsupported type {dt}")
    return enc


def _make_nullable_encoder(dt: T.DataType):
    inner = _make_encoder(dt)
    # NaN-as-missing can arrive via pandas (NA in a non-float column surfaces
    # as float NaN) — but for FLOAT targets NaN is a genuine value and must
    # roundtrip; only non-float types treat it as null.  `v != v` raises for
    # arrays, so the check is guarded.
    nan_is_missing = not isinstance(dt, (T.FloatType, T.DoubleType))

    def enc(buf, v):
        # union index 0 = null (zigzag(0) == 0), index 1 = value (zigzag(1)
        # == 2)
        if v is None:
            buf.append(0)
            return
        if nan_is_missing:
            try:
                if bool(v != v):
                    buf.append(0)
                    return
            except (TypeError, ValueError):
                pass
        buf.append(2)
        inner(buf, v)

    return enc


def _nonnull_branch(avro_t):
    """Strip the null branch of a nullable union; None if not a simple union."""
    if isinstance(avro_t, list):
        branches = [b for b in avro_t if b != "null"]
        return branches[0] if len(branches) == 1 else None
    return avro_t


def _is_millis(avro_t) -> bool:
    """True when the Avro logical type is millisecond-precision.  The codec
    always WRITES micros, but a foreign spec-conformant file may carry
    timestamp-millis / local-timestamp-millis — decoding those as micros
    would yield instants 1000x too small."""
    avro_t = _nonnull_branch(avro_t)
    return isinstance(avro_t, dict) and str(avro_t.get("logicalType", "")).endswith(
        "-millis"
    )


def _make_decoder(dt: T.DataType, avro_t=None):
    import datetime

    avro_t = _nonnull_branch(avro_t)
    if isinstance(dt, T.StringType):
        def dec(r: _Reader):
            return r.bytes_().decode("utf-8")
    elif isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        def dec(r):
            return r.long()
    elif isinstance(dt, T.DoubleType):
        def dec(r):
            return struct.unpack("<d", r.fixed(8))[0]
    elif isinstance(dt, T.FloatType):
        def dec(r):
            return struct.unpack("<f", r.fixed(4))[0]
    elif isinstance(dt, T.BooleanType):
        def dec(r):
            return r.fixed(1) == b"\x01"
    elif isinstance(dt, T.BinaryType):
        def dec(r):
            return r.bytes_()
    elif isinstance(dt, T.TimestampType):
        epoch_utc = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        mult = 1000 if _is_millis(avro_t) else 1

        def dec(r):
            # absolute instant: decode tz-aware so the Arrow/Spark boundary
            # does not reinterpret it in the session time zone
            return epoch_utc + datetime.timedelta(microseconds=r.long() * mult)
    elif isinstance(dt, T.TimestampNTZType):
        epoch = datetime.datetime(1970, 1, 1)
        mult = 1000 if _is_millis(avro_t) else 1

        def dec(r):
            return epoch + datetime.timedelta(microseconds=r.long() * mult)
    elif isinstance(dt, T.DateType):
        epoch_d = datetime.date(1970, 1, 1)

        def dec(r):
            return epoch_d + datetime.timedelta(days=r.long())
    elif isinstance(dt, T.ArrayType):
        item = _make_nullable_decoder(
            dt.elementType, avro_t.get("items") if isinstance(avro_t, dict) else None
        )

        def dec(r):
            out = []
            while True:
                n = r.long()
                if n == 0:
                    return out
                if n < 0:  # block with byte size prefix (spec-allowed)
                    r.long()
                    n = -n
                for _ in range(n):
                    out.append(item(r))
    elif isinstance(dt, T.MapType):
        val = _make_nullable_decoder(
            dt.valueType, avro_t.get("values") if isinstance(avro_t, dict) else None
        )

        def dec(r):
            out = {}
            while True:
                n = r.long()
                if n == 0:
                    return out
                if n < 0:
                    r.long()
                    n = -n
                for _ in range(n):
                    k = r.bytes_().decode("utf-8")
                    out[k] = val(r)
    elif isinstance(dt, T.StructType):
        sub_avro = (
            {f["name"]: f["type"] for f in avro_t.get("fields", [])}
            if isinstance(avro_t, dict)
            else {}
        )
        subs = [
            (f.name, _make_nullable_decoder(f.dataType, sub_avro.get(f.name)))
            for f in dt.fields
        ]

        def dec(r):
            return {name: sub(r) for name, sub in subs}
    else:
        raise ValueError(f"unsupported type {dt}")
    return dec


def _make_nullable_decoder(dt: T.DataType, avro_t=None):
    """Decoder for one field as the WRITER's schema dictates.

    The engine's own writer makes every field a ``["null", T]`` union, but
    a foreign spec-conformant file (e.g. the canonical Java implementation)
    may declare non-union fields — those carry NO branch index, and a
    union's branch order is the writer's choice (``[T, "null"]`` is just as
    legal).  Decoding must follow the embedded schema, not assume our own
    writing convention."""
    inner = _make_decoder(dt, avro_t)

    if avro_t is not None and not isinstance(avro_t, list):
        return inner  # non-union field: value only, no branch index

    if isinstance(avro_t, list):
        null_branches = {i for i, b in enumerate(avro_t) if b == "null"}

        def dec(r: _Reader):
            ix = r.long()
            if ix in null_branches:
                return None
            return inner(r)

        return dec

    # no schema info: the engine's own ["null", T] convention
    def dec(r: _Reader):
        if r.long() == 0:
            return None
        return inner(r)

    return dec


# ---------------------------------------------------------------------------
# container framing
# ---------------------------------------------------------------------------


def _encode_container(
    schema: T.StructType,
    rows: Iterable[dict],
    codec: str = "deflate",
    block_rows: int = _DEFAULT_BLOCK_ROWS,
    sync: bytes | None = None,
) -> bytes:
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    avro_schema = spark_to_avro_schema(schema)
    encoders = [(f.name, _make_nullable_encoder(f.dataType)) for f in schema.fields]
    sync = sync or uuid.uuid4().bytes
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(avro_schema).encode(),
        "avro.codec": codec.encode(),
    }
    head = bytearray()
    _zigzag_encode(head, len(meta))
    for k, v in meta.items():
        kb = k.encode()
        _zigzag_encode(head, len(kb))
        head.extend(kb)
        _zigzag_encode(head, len(v))
        head.extend(v)
    head.append(0)
    out.write(bytes(head))
    out.write(sync)

    block = bytearray()
    n_in_block = 0

    def flush():
        nonlocal block, n_in_block
        if not n_in_block:
            return
        data = bytes(block)
        if codec == "deflate":
            data = zlib.compress(data, 6)[2:-4]  # raw RFC-1951 (strip zlib wrapper)
        frame = bytearray()
        _zigzag_encode(frame, n_in_block)
        _zigzag_encode(frame, len(data))
        out.write(bytes(frame))
        out.write(data)
        out.write(sync)
        block = bytearray()
        n_in_block = 0

    for row in rows:
        for name, enc in encoders:
            enc(block, row.get(name))
        n_in_block += 1
        if n_in_block >= block_rows:
            flush()
    flush()
    return out.getvalue()


def _decode_container_columns(data: bytes) -> tuple[T.StructType, dict[str, list], int]:
    """Column-wise container decode: (schema, {name: values}, n_rows).

    Decoders append straight into per-column lists — no per-row dict, and
    the columns dict goes directly to ``pa.RecordBatch.from_pydict`` (see
    :func:`_decode_containers`)."""
    schema, reader, blocks, avro_schema = _open_container(data)
    avro_fields = {f["name"]: f["type"] for f in avro_schema.get("fields", [])}
    cols: dict[str, list] = {f.name: [] for f in schema.fields}
    appenders = [
        (cols[f.name].append, _make_nullable_decoder(f.dataType, avro_fields.get(f.name)))
        for f in schema.fields
    ]
    n = 0
    for count, payload in blocks:
        r = _Reader(payload)
        for _ in range(count):
            for append, dec in appenders:
                append(dec(r))
        n += count
    return schema, cols, n


def _open_container(data: bytes):
    """Parse header; return (spark_schema, reader, iterator of
    (count, raw block), raw avro schema dict)."""
    if data[:4] != MAGIC:
        raise ValueError("not an avro object container file (bad magic)")
    r = _Reader(data)
    r.pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            r.long()
            n = -n
        for _ in range(n):
            k = r.bytes_().decode()
            meta[k] = r.bytes_()
    codec = meta.get("avro.codec", b"null").decode()
    avro_schema = json.loads(meta["avro.schema"])
    schema = avro_to_spark_schema(avro_schema)
    sync = r.fixed(SYNC_SIZE)

    def blocks():
        while r.pos < len(data):
            count = r.long()
            size = r.long()
            payload = r.fixed(size)
            if codec == "deflate":
                payload = zlib.decompress(payload, wbits=-15)
            elif codec != "null":
                raise ValueError(f"unsupported avro codec {codec!r}")
            if r.fixed(SYNC_SIZE) != sync:
                raise ValueError("sync marker mismatch (corrupt container)")
            yield count, payload

    return schema, r, blocks(), avro_schema


def _decode_containers(contents: Iterable[bytes], schema: T.StructType):
    """Decode container files/messages into ONE Arrow batch conformed to
    ``schema`` by field name (fields a container lacks are null-padded,
    extra fields dropped — the ``AvroToPutGeoMesa`` schema-adapter
    contract, ``AvroToPutGeoMesa.scala:60-78``).  Returns
    ``(batch, rows per container)``; ``read_avro`` and the
    GeoAvro-over-Kafka decode (``streaming/kafka.py``) both run on it.

    The batch is built straight from the decoded Python values — NOT via
    pandas, whose NaN-means-null convention would silently null out
    genuine NaN floats, and whose float64 view of a null-holding integer
    column would round int64 values above 2**53."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    acc: dict[str, list] = {f.name: [] for f in schema.fields}
    counts: list[int] = []
    for data in contents:
        _schema, cols, n = _decode_container_columns(data)
        for name, values in acc.items():
            values.extend(cols.get(name) or [None] * n)
        counts.append(n)
    return pa.RecordBatch.from_pydict(acc, schema=to_arrow_schema(schema)), counts


def read_avro_schema(path: str) -> T.StructType:
    """Read just the embedded schema (header-only driver read)."""
    with open(path, "rb") as fh:
        head = fh.read(1 << 20)  # header is metadata-sized; 1 MB is generous
    schema, _r, _b, _a = _open_container(head)
    return schema


# ---------------------------------------------------------------------------
# DataFrame-level API
# ---------------------------------------------------------------------------


def write_avro(
    df: DataFrame,
    path: str,
    codec: str = "deflate",
    block_rows: int = _DEFAULT_BLOCK_ROWS,
) -> int:
    """Distributed write: one container file per partition under ``path``.

    Returns the number of files written.  Executors write to the shared
    table filesystem exactly like the parquet sinks.

    Overwrite semantics: any ``part-*.avro`` files (and manifest) already in
    ``path`` are cleared first — a re-run after a failed attempt with a
    DIFFERENT partition count would otherwise leave stale higher-numbered
    parts that read_avro double-counts.  After the job the driver writes a
    ``_manifest.json`` naming exactly the committed parts; ``read_avro``
    honors it, so a torn write (manifest absent or stale) can never be
    silently half-read."""
    os.makedirs(path, exist_ok=True)
    for stale in os.listdir(path):
        if (stale.startswith("part-") and ".avro" in stale) or stale == _MANIFEST:
            os.remove(os.path.join(path, stale))
    # in-progress marker BEFORE the job: a write that dies mid-job leaves
    # this marker instead of no manifest at all, so read_avro fails loudly
    # on the partial part set rather than falling back to a raw listing
    with open(os.path.join(path, _MANIFEST), "w") as fh:
        json.dump({"in_progress": True}, fh)
    schema = df.schema

    def write_partition(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        rows: list[dict] = []
        for batch in batches:
            rows.extend(batch.to_pylist())
        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        if not rows:
            return
        data = _encode_container(schema, rows, codec=codec, block_rows=block_rows)
        # deterministic per-partition name: a task retried after the rename
        # (or a speculative duplicate attempt) REPLACES its predecessor's
        # file instead of leaving a second copy that read_avro would
        # double-count; the random-suffixed tmp still guards torn files
        out = os.path.join(path, f"part-{pid:05d}.avro")
        tmp = f"{out}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, out)
        yield pa.RecordBatch.from_pylist(
            [{"path": out, "rows": len(rows)}],
            schema=pa.schema([("path", pa.string()), ("rows", pa.int64())]),
        )

    written = df.mapInArrow(write_partition, "path string, rows long").collect()
    parts = sorted(os.path.basename(r.path) for r in written if r.path is not None)
    final = os.path.join(path, _MANIFEST)
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"files": parts}, fh)
    os.replace(tmp, final)  # atomic: never a truncated manifest
    return len(parts)


#: write_avro_file is a driver-side collect by design (deterministic single
#: file); this bound keeps a caller from accidentally handing it bulk data.
MAX_SINGLE_FILE_ROWS = 1_000_000


def write_avro_file(
    df: DataFrame,
    path: str,
    order_by: list[str] | None = None,
    codec: str = "deflate",
    max_rows: int = MAX_SINGLE_FILE_ROWS,
) -> str:
    """Single exact file with deterministic bytes (the ``ConvertToGeoFile``
    avro output shape, ``ConvertToGeoFile.scala:197-212``): rows ordered,
    fixed sync marker derived from the schema, driver-side collect — for
    FlowFile-sized exports, not bulk data.

    Fails loudly above ``max_rows`` (same pattern as visibility.py's
    ``MAX_DISTINCT_LABELS``): the driver collect would otherwise OOM
    silently on a bulk frame — use :func:`write_avro` (distributed, one
    file per partition + manifest) for anything large."""
    if order_by:
        df = df.orderBy(*order_by)
    # guard via limit(n+1): one job, bounded driver memory even on the
    # failing path (no pre-count pass)
    collected = (
        df.limit(max_rows + 1).collect() if max_rows is not None else df.collect()
    )
    if max_rows is not None and len(collected) > max_rows:
        raise ValueError(
            f"write_avro_file collects to the driver and got > {max_rows} "
            "rows; use write_avro for bulk data (or raise max_rows "
            "explicitly if the driver can hold it)"
        )
    rows = [r.asDict(recursive=True) for r in collected]
    import hashlib

    sync = hashlib.md5(df.schema.json().encode()).digest()
    data = _encode_container(df.schema, rows, codec=codec, sync=sync)
    with open(path, "wb") as fh:
        fh.write(data)
    return path


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Read a container file / directory of them into a DataFrame.

    The schema comes from the first file's embedded header (self-describing,
    like the reference's GeoAvro ingest — no caller schema needed); files
    whose schema differs by-name-compatibly are null-padded per field name,
    exactly the ``AvroToPutGeoMesa`` schema-adapter contract
    (``AvroToPutGeoMesa.scala:60-78``).  One task per file."""
    if os.path.isdir(path):
        manifest = os.path.join(path, _MANIFEST)
        if os.path.exists(manifest):
            with open(manifest) as fh:
                mf = json.load(fh)
            if mf.get("in_progress"):
                raise FileNotFoundError(
                    f"{path} holds a torn write_avro output (the job died "
                    f"before committing its manifest); re-run the write"
                )
            names = mf["files"]
            files = [os.path.join(path, n) for n in names]
            missing = [f for f in files if not os.path.exists(f)]
            if missing:
                raise FileNotFoundError(
                    f"manifest names {len(missing)} absent part file(s) under "
                    f"{path} (torn write?): {missing[:3]}"
                )
        else:
            files = sorted(
                os.path.join(path, n) for n in os.listdir(path) if n.endswith(".avro")
            )
        if not files:
            raise FileNotFoundError(f"no .avro files under {path}")
    else:
        files = [path]
    schema = read_avro_schema(files[0])

    def decode(batches: Iterator) -> Iterator:
        for batch in batches:
            yield _decode_containers(batch.column("content").to_pylist(), schema)[0]

    binary = (
        spark.read.format("binaryFile")
        .load([f"file://{os.path.abspath(f)}" for f in files])
        .select("content")
        .repartition(len(files))
    )
    return binary.mapInArrow(decode, schema)
