"""Feature-id hashing — the ``GetGeoMesaKafkaRecord`` murmur3 fid
replacement (``GetGeoMesaKafkaRecord.scala:458-476``) re-expressed.

The reference hashes ``featureId + ":" + attr0 + ":" + attr1 ...`` with
commons-codec ``MurmurHash3.hash128`` (x64 variant, the library's default
seed 104729) and renders big-endian(h1) ++ big-endian(h2) as a 32-char hex
fid.  ``murmur3_fid`` reproduces those bytes exactly with a VECTORIZED
numpy implementation of MurmurHash3 x64/128 inside an ``arrow_udf`` (no
dependency, no per-row Python in the block mixing — rows advance through
the block loop in lock-step with masking).  ``fid_hash`` keeps the
JVM-codegen'd variants (md5 default — cross-engine checkable in DuckDB —
plus xxhash64 / sha2) for pipelines that only need the *contract*:
deterministic fid from the full attribute tuple, stable across
partitionings.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: commons-codec MurmurHash3.hash128(byte[]) seeds with 104729 (its
#: documented quirk), which is therefore what the reference's fids use.
COMMONS_CODEC_DEFAULT_SEED = 104729

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xFF51AFD7ED558CCD)
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xC4CEB9FE1A85EC53)
    return k ^ (k >> np.uint64(33))


def murmur3_x64_128(
    data: list[bytes], seed: int = COMMONS_CODEC_DEFAULT_SEED
) -> tuple[np.ndarray, np.ndarray]:
    """MurmurHash3 x64/128 over a batch of byte strings, vectorized across
    rows: every row advances through the 16-byte block loop together, rows
    past their own block count masked out; tail mixing needs no mask
    because a zero k-lane is a mixing no-op (k*c -> 0, h ^= 0).

    Returns (h1, h2) as uint64 arrays — the two 64-bit halves commons-codec
    returns as ``long[2]``.
    """
    n = len(data)
    if n == 0:
        return np.empty(0, np.uint64), np.empty(0, np.uint64)
    lens = np.fromiter((len(b) for b in data), dtype=np.int64, count=n)
    max_blocks = int(lens.max()) // 16
    width = max_blocks * 16 + 16  # zero padding covers every tail gather
    buf = np.zeros((n, width), dtype=np.uint8)
    for i, b in enumerate(data):
        if b:
            buf[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    lanes = buf.view("<u8")  # little-endian 64-bit lanes, per the spec

    h1 = np.full(n, np.uint64(seed))
    h2 = np.full(n, np.uint64(seed))
    nblocks = (lens // 16).astype(np.int64)
    for b in range(max_blocks):
        active = nblocks > b
        if not active.any():
            break
        k1 = lanes[:, 2 * b].copy()
        k2 = lanes[:, 2 * b + 1].copy()
        k1 = _rotl(k1 * _C1, 31) * _C2
        nh1 = h1 ^ k1
        nh1 = _rotl(nh1, 27) + h2
        nh1 = nh1 * np.uint64(5) + np.uint64(0x52DCE729)
        k2 = _rotl(k2 * _C2, 33) * _C1
        nh2 = h2 ^ k2
        nh2 = _rotl(nh2, 31) + nh1
        nh2 = nh2 * np.uint64(5) + np.uint64(0x38495AB5)
        h1 = np.where(active, nh1, h1)
        h2 = np.where(active, nh2, h2)

    # tail: bytes beyond the last full block (0-15 of them), accumulated
    # little-endian exactly like the reference's switch fall-through
    tail_len = (lens % 16).astype(np.int64)
    start = nblocks * 16
    j = np.arange(15, dtype=np.int64)
    idx = start[:, None] + j[None, :]
    tail = buf[np.arange(n)[:, None], np.minimum(idx, width - 1)].astype(np.uint64)
    tail = np.where(j[None, :] < tail_len[:, None], tail, np.uint64(0))
    k1 = np.zeros(n, np.uint64)
    for jj in range(8):
        k1 = k1 | (tail[:, jj] << np.uint64(8 * jj))
    k2 = np.zeros(n, np.uint64)
    for jj in range(8, 15):
        k2 = k2 | (tail[:, jj] << np.uint64(8 * (jj - 8)))
    h2 = h2 ^ (_rotl(k2 * _C2, 33) * _C1)
    h1 = h1 ^ (_rotl(k1 * _C1, 31) * _C2)

    ulen = lens.astype(np.uint64)
    h1 = h1 ^ ulen
    h2 = h2 ^ ulen
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = h1 + h2
    h2 = h2 + h1
    return h1, h2


def murmur3_128_hex(data: list[bytes], seed: int = COMMONS_CODEC_DEFAULT_SEED) -> list[str]:
    """Reference fid rendering: hex(big-endian(h1) ++ big-endian(h2))
    (``GetGeoMesaKafkaRecord.scala:471-474`` — ByteArrays.writeLong is
    big-endian, toHex is lowercase)."""
    h1, h2 = murmur3_x64_128(data, seed)
    return [f"{int(a):016x}{int(b):016x}" for a, b in zip(h1, h2)]


@F.arrow_udf(T.StringType())
def _murmur3_hex_udf(s: pa.Array) -> pa.Array:
    """Arrow batch of joined fid strings -> their reference murmur3 fids."""
    return pa.array(murmur3_128_hex([v.encode("utf-8") for v in s.to_pylist()]), pa.string())


#: java.util.Date.toString pattern ("Wed May 06 00:00:00 UTC 2015") — the
#: rendering the reference's Scala ``attr.toString`` produces for the common
#: Date-typed dtg attribute (``GetGeoMesaKafkaRecord.scala:468`` string-joins
#: attribute *objects*, so Date attrs go through java.util.Date.toString).
JAVA_DATE_TOSTRING_PATTERN = "EEE MMM dd HH:mm:ss zzz yyyy"


def java_date_string(col: Column | str) -> Column:
    """Render a timestamp/date column exactly as Scala ``Date.toString``
    would (JVM default TZ = the Spark session TZ), for fid parity."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c.cast("timestamp"), JAVA_DATE_TOSTRING_PATTERN)


def murmur3_fid(id_col: Column | str, *attr_cols: Column | str) -> Column:
    """Byte-identical reference fid: murmur3-128 over
    ``id + ":" + attr...`` with Scala's toString null rendering
    (``GetGeoMesaKafkaRecord.scala:458-476``).

    Parity caveat: pass temporal attributes through :func:`java_date_string`
    (or use :func:`murmur3_fid_df`, which does it from the schema) — Spark's
    cast-to-string renders ``2015-05-06 00:00:00`` where Scala's
    ``Date.toString`` renders ``Wed May 06 00:00:00 UTC 2015``, and the raw
    cast would diverge from the reference's fids.
    """
    parts = [
        F.coalesce(
            (F.col(c) if isinstance(c, str) else c).cast("string"), F.lit("null")
        )
        for c in (id_col, *attr_cols)
    ]
    return _murmur3_hex_udf(F.concat_ws(":", *parts))


def murmur3_fid_df(df: DataFrame, id_col: str, *attr_cols: str) -> Column:
    """Schema-aware :func:`murmur3_fid`: timestamp/date attributes are
    rendered with java.util.Date.toString formatting (the reference's
    ``attr.toString``), everything else with cast-to-string."""
    temporal = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("timestamp", "timestamp_ntz", "date")
    }
    cols = [
        java_date_string(c) if c in temporal else F.col(c)
        for c in (id_col, *attr_cols)
    ]
    return murmur3_fid(*cols)


def fid_hash(*cols: Column | str, algo: str = "md5") -> Column:
    """Deterministic feature id from attribute values.

    Null-safe: nulls are encoded as a sentinel distinct from empty strings,
    so (null) and ("") hash differently — the reference feeds raw bytes per
    attribute and has the same property.
    """
    parts = [
        F.coalesce(F.col(c).cast("string") if isinstance(c, str) else c.cast("string"),
                   F.lit("\x00null\x00"))
        for c in cols
    ]
    joined = F.concat_ws("\x1f", *parts)
    if algo == "md5":
        return F.md5(joined)
    if algo == "xxhash64":
        return F.conv(F.xxhash64(joined).cast("string"), 10, 16)
    if algo == "sha2":
        return F.sha2(joined, 256)
    if algo == "murmur3":
        return _murmur3_hex_udf(joined)
    raise ValueError(f"unknown fid hash algo {algo!r}")


def with_fid(df: DataFrame, cols: list[str] | None = None, algo: str = "md5") -> DataFrame:
    """Attach a ``__fid`` column hashed from ``cols`` (default: all)."""
    use = cols or df.columns
    return df.withColumn("__fid", fid_hash(*use, algo=algo))
