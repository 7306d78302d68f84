"""Extraction stage: byte-identical text per url, deterministic lang id,
round-trip against the generator, end-to-end extract->merge pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_nifi_spark.functions.extract import (
    UNKNOWN_LANG,
    detect_lang_str,
    extract_pages,
    extract_text_bytes,
)
from geomesa_nifi_spark.sources.changegen import change_stream


def test_extract_text_pure():
    html = (
        b"<html><head><title>T</title><style>p{x}</style></head>"
        b"<body><!-- c --><p>Hello &amp; goodbye   world</p>"
        b"<script>var x = '<p>not text</p>';</script></body></html>"
    )
    assert extract_text_bytes(html) == "Hello & goodbye world"
    assert extract_text_bytes(None) is None
    assert extract_text_bytes(b"") == ""
    # invalid utf-8 is deterministic (replacement char), never an error
    assert extract_text_bytes(b"<p>\xff\xfe ok</p>") == "�� ok"


def test_detect_lang_pure():
    assert detect_lang_str("the cat sat on the mat and it was happy") == "en"
    assert detect_lang_str("der hund und die katze sind in dem haus") == "de"
    assert detect_lang_str("12345 67890 !!!") == UNKNOWN_LANG
    assert detect_lang_str("") == UNKNOWN_LANG
    assert detect_lang_str(None) is None


def test_udf_byte_identical_to_reference(spark):
    """The Arrow pandas UDF must agree byte-for-byte with the pure
    reference implementation on every generated page (input_hint)."""
    changes = change_stream(spark, 500, seed=7).filter(F.col("html").isNotNull())
    extracted = extract_pages(changes)
    rows = extracted.select("url", "html", "text", "lang").collect()
    assert rows
    for r in rows:
        expected = extract_text_bytes(bytes(r.html))
        assert r.text == expected, f"UDF text differs for {r.url}"
        assert r.text.encode("utf-8") == expected.encode("utf-8")
        assert r.lang == detect_lang_str(expected)


def test_batch_kernel_fuzz_byte_identical():
    """The RE2-vectorized batch kernel must agree byte-for-byte with the
    row-wise reference on an adversarial corpus: entities, nested comments,
    mixed-case tags, exotic Unicode whitespace, astral codepoints, U+0130,
    invalid UTF-8, nulls — every fallback route and every fast path."""
    import random

    import pyarrow as pa

    from geomesa_nifi_spark.functions.extract import _extract_arrow

    random.seed(123)
    ws = ["\x1c", "\x1d", "\x1e", "\x1f", "\x85", "\xa0", " ", " ",
          " ", " ", " ", " ", " ", " ",
          "　", "\x0b", "\x0c"]
    frag = ws + [
        "<script>", "</script>", "<script type='x'>", "</script  >",
        "<style>", "</style>", "<head>", "</head　>", "<noscript>",
        "</noscript>", "<!--", "-->", "<p>", "</p>", "<div class='a'>",
        "<", ">", "&amp;", "&lt;", "&#65;", "&", "der die und f\xfcr",
        "the and of to", "le de la", "que el en", "di e il", "İstanbul",
        "caf\xe9", "\xfcber", "x1 2y _z", "<sCrIpT>aa</ScRiPt\t>",
        "<!-- <script>n</script> -->", "\U0001F600", "\U00011F02", "plain",
        "\xb2\xb3\xaa", "<script\xe9>x</script>", "a&b<p>c",
    ]
    docs: list = []
    for _ in range(3000):
        b = "".join(random.choice(frag) for _ in range(random.randint(0, 35))).encode()
        if random.random() < 0.03:
            b += b"\xff\xfe"
        docs.append(b)
    docs += [None, b""]
    texts, langs = _extract_arrow(pa.array(docs, pa.binary()))
    for d, got_t, got_l in zip(docs, texts.to_pylist(), langs.to_pylist()):
        want_t = extract_text_bytes(d)
        want_l = detect_lang_str(want_t)
        assert got_t == want_t, (d, got_t, want_t)
        assert got_l == want_l, (d, got_l, want_l)


def test_python_boundary_is_arrow_only():
    """Every Python function in the package takes and returns Arrow; pandas
    appears only in streaming/stateful.py, whose applyInPandasWithState has
    no Arrow equivalent."""
    import pathlib
    import re

    import geomesa_nifi_spark

    pkg = pathlib.Path(geomesa_nifi_spark.__file__).parent
    pandas_boundary = re.compile(r"pandas_udf|mapInPandas|PandasUDFType|import pandas")
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg).as_posix() != "streaming/stateful.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pandas_boundary.search(line)
    ]
    assert not hits, hits


def test_generator_roundtrip_and_determinism(spark):
    a = change_stream(spark, 300, seed=42)
    b = change_stream(spark, 300, seed=42)
    assert a.exceptAll(b).count() == 0  # identical across instantiations
    c = change_stream(spark, 300, seed=43)
    assert c.exceptAll(a).count() > 0  # seed actually matters

    # deletes carry null html; others round-trip through extraction
    assert a.filter((F.col("op") == "delete") & F.col("html").isNotNull()).count() == 0
    ex = extract_pages(a.filter(F.col("op") != "delete")).filter(
        F.col("text").isNull() | (F.length("text") == 0)
    )
    assert ex.count() == 0


def test_text_payload_matches_extraction(spark):
    """payload='text' must equal what the extraction UDF recovers from
    payload='html' — the bench shortcut cannot drift from the real path."""
    via_text = (
        change_stream(spark, 250, seed=5, payload="text")
        .filter(F.col("op") != "delete")
        .select("url", "offset", "text", "lang")
    )
    via_html = (
        extract_pages(change_stream(spark, 250, seed=5))
        .filter(F.col("op") != "delete")
        .select("url", "offset", "text", "lang")
    )
    assert via_text.exceptAll(via_html).count() == 0
    assert via_html.exceptAll(via_text).count() == 0


def test_generator_vectorized_text_matches_jvm(spark):
    """The numpy/Arrow word-synthesis kernel must reproduce the original
    JVM expression byte-for-byte, for both payloads and non-default word
    counts (the kernel re-implements Spark's xxhash64 chain bit-exactly)."""
    import os

    for payload, kw in (
        ("html", {}),
        ("text", {}),
        ("html", {"words_min": 40, "words_span": 30}),
    ):
        os.environ["GNS_GEN_JVM"] = "1"
        try:
            old = change_stream(spark, 2000, n_keys=400, seed=9, payload=payload, **kw)
            old_rows = old.collect()
        finally:
            del os.environ["GNS_GEN_JVM"]
        new = change_stream(spark, 2000, n_keys=400, seed=9, payload=payload, **kw)
        assert new.exceptAll(old).count() == 0
        assert old.exceptAll(new).count() == 0
        assert len(old_rows) == 2000


def test_generator_seed_range(spark):
    """Seeds outside [0, 2**31) fail loudly: a negative one would overflow
    the text kernel, and one >= 2**31 would make the JVM reference path
    hash a long where the kernel hashes an int."""
    import pytest

    for bad in (-1, 2**31):
        with pytest.raises(ValueError, match="seed"):
            change_stream(spark, 10, seed=bad)
    for ok in (0, 2**31 - 1):
        assert change_stream(spark, 10, seed=ok).count() == 10


def test_generator_skew_exists(spark):
    df = change_stream(spark, 2000, n_keys=500, seed=1)
    top = (
        df.groupBy("url").count().orderBy(F.desc("count")).limit(1).collect()[0]
    )
    avg = 2000 / 500
    assert top["count"] > 5 * avg  # power-law head is real


def test_extract_merge_pipeline(spark, tmp_path):
    """Full stage-2 slice: generate -> extract -> merge -> final state."""
    from geomesa_nifi_spark.lake import LakeTable, merge_changes

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("offset", T.LongType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "pages"), schema,
        key_col="url", ts_col="warc_ts", tiebreak_col="offset", num_buckets=8,
    )
    changes = extract_pages(change_stream(spark, 400, n_keys=80, seed=3))
    merge_changes(t, changes.drop("partition"), batch_id="b0")

    # oracle: LWW via an independent path (window function over the stream)
    from geomesa_nifi_spark.operators.dedup import lww_dedup

    expected = (
        lww_dedup(changes, "url", ["warc_ts", "offset"], strategy="window")
        .filter(F.col("op") != "delete")
        .count()
    )
    assert t.scan().count() == expected
    # every surviving row has lang assigned by the extractor
    assert t.scan().filter(F.col("lang").isNull()).count() == 0
