"""WARC source (sources/warc.py): framing, gzip members, type
filtering, HTTP split, text extraction, and the Spark operator."""

import pytest

from pyproj_spark.sources.warc import (build_warc, html_lang,
                                       html_to_text, parse_warc,
                                       warc_pages)

PAGES = [
    ("https://a.example/1", "2024-01-01T00:00:00Z",
     b"<html lang=\"en\"><body><p>hello  world</p></body></html>"),
    # body containing the record delimiter sequence: framing must be
    # Content-Length-driven, never delimiter-scanned
    ("https://a.example/2", "2024-01-01T00:01:00Z",
     b"<html><body>x\r\n\r\ny</body></html>"),
    ("https://a.example/3", "2024-01-02T12:34:56Z",
     "<html><body>café &amp; t&eacute;</body></html>".encode()),
]


@pytest.mark.parametrize("gz", [False, True])
def test_round_trip(gz):
    recs = parse_warc(build_warc(PAGES, gzip_members=gz))
    # warcinfo + request records are filtered out
    assert len(recs) == 3
    for (url, iso, html), r in zip(PAGES, recs):
        assert r["url"] == url
        assert r["html"] == html  # byte-identical through the container
        assert r["http_status"] == 200
        assert r["content_type"] == "text/html; charset=utf-8"
        assert r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ") == iso


def test_text_extraction():
    assert html_to_text(
        "<html><head><script>a<b;</script><style>p{}</style></head>"
        "<body><h1>Hi</h1>\n<p>a  b</p></body></html>") == "Hi a b"
    assert html_to_text("café &amp; t&eacute;") == "café & té"
    assert html_lang('<html lang="de"><body/></html>') == "de"
    assert html_lang("<html><body/></html>") == "und"


def test_truncation_errors():
    good = build_warc(PAGES)
    with pytest.raises(ValueError):
        parse_warc(good[:-20])  # truncated body
    with pytest.raises(ValueError):
        parse_warc(b"NOT A WARC\r\n\r\n")
    with pytest.raises(ValueError):
        parse_warc(build_warc(PAGES, gzip_members=True)[:-5])


def test_deterministic_bytes():
    assert build_warc(PAGES, gzip_members=True) \
        == build_warc(PAGES, gzip_members=True)


def test_spark_operator(spark):
    df = spark.createDataFrame(
        [(0, build_warc(PAGES)), (1, build_warc(PAGES, True))],
        "warc_id long, content binary")
    out = warc_pages(df).collect()
    assert len(out) == 6
    by_url = {}
    for r in out:
        by_url.setdefault(r.url, []).append(r)
    assert sorted(by_url) == [u for u, _t, _h in PAGES]
    r = by_url["https://a.example/1"][0]
    assert r.text == "hello world"
    assert r.lang == "en"
    assert bytes(r.html) == PAGES[0][2]


def test_permissive_salvage():
    from pyproj_spark.sources.warc import parse_warc_permissive
    good = build_warc(PAGES)
    # clean file: everything salvaged, zero bad
    recs, bad = parse_warc_permissive(good)
    assert len(recs) == 3 and bad == 0
    # truncated tail: leading records survive, tail counted
    recs, bad = parse_warc_permissive(good[:-30])
    assert 1 <= len(recs) <= 2 and bad == 1
    # truncated gzip member: inflated prefix still parsed
    gz = build_warc(PAGES, gzip_members=True)
    recs, bad = parse_warc_permissive(gz[:-8])
    assert bad >= 1 and len(recs) >= 1
    # garbage: nothing salvaged, no raise
    recs, bad = parse_warc_permissive(b"NOT A WARC AT ALL")
    assert recs == [] and bad == 1


def test_spark_skip_mode(spark):
    df = spark.createDataFrame(
        [(0, build_warc(PAGES)), (1, build_warc(PAGES)[:-30])],
        "warc_id long, content binary")
    out = warc_pages(df, on_error="skip").collect()
    clean = [r for r in out if r.n_bad == 0]
    salvaged = [r for r in out if r.n_bad > 0]
    assert len(clean) == 3 and 1 <= len(salvaged) <= 2


def test_spark_skip_mode_fully_corrupt_archive(spark):
    """A file whose records are ALL corrupt still surfaces its bad
    count: a sentinel row (null url, n_bad set) keeps fully-corrupt
    archives observable without a second pass."""
    df = spark.createDataFrame(
        [(0, build_warc(PAGES)), (1, b"NOT A WARC AT ALL")],
        "warc_id long, content binary")
    out = warc_pages(df, on_error="skip").collect()
    sentinels = [r for r in out if r.url is None]
    assert len(sentinels) == 1 and sentinels[0].n_bad >= 1
    assert len([r for r in out if r.url is not None]) == 3


@pytest.mark.parametrize("on_error", ["fail", "skip"])
def test_spark_null_payload_yields_no_rows(spark, on_error):
    """A NULL payload is no archive: no rows and no sentinel, in both
    modes, and the task goes on to the next file."""
    df = spark.createDataFrame(
        [(0, None), (1, build_warc(PAGES))],
        "warc_id long, content binary")
    out = warc_pages(df, on_error=on_error).collect()
    assert sorted(r.url for r in out) == [u for u, _t, _h in PAGES]
    assert {r.n_bad for r in out} == {0}


def test_streaming_ingestion(spark, tmp_path):
    """warc_pages composes with readStream: the same ``map_rows``
    (mapInArrow) plan runs incrementally over arriving archive
    files."""
    import os
    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    spark.createDataFrame([(0, build_warc(PAGES))],
                          "warc_id long, content binary") \
        .write.parquet(d, mode="overwrite")
    stream = spark.readStream.schema("warc_id long, content binary") \
        .parquet(d)
    q = (warc_pages(stream)
         .writeStream.format("memory").queryName("warc_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    rows = spark.sql("select * from warc_stream").collect()
    assert len(rows) == 3
    assert sorted(r.url for r in rows) == [u for u, _t, _h in PAGES]


def test_charset_detection():
    from pyproj_spark.sources.warc import decode_html, detect_charset
    # BOM wins over everything
    assert detect_charset(b"\xef\xbb\xbfhi",
                          "text/html; charset=latin-1") == "utf-8-sig"
    assert decode_html("é".encode("utf-8-sig")) == "é"
    assert decode_html("héllo".encode("utf-16")) == "héllo"
    # Content-Type parameter
    body = "café".encode("latin-1")
    assert decode_html(body, "text/html; charset=ISO-8859-1") == "café"
    # meta tag prescan (first 1024 bytes)
    page = (b'<html><head><meta charset="windows-1252"></head>'
            b"<body>caf\xe9</body></html>")
    assert "café" in decode_html(page)
    # unknown labels fall through to utf-8
    assert detect_charset(b"x", "text/html; charset=not-a-charset") \
        == "utf-8"
    # default path
    assert decode_html("日本語".encode()) == "日本語"


def test_permissive_never_raises_fuzz():
    """Salvage-mode contract: ARBITRARY bytes (including mutated
    valid archives) must never raise — at crawl scale a poison file
    may cost its tail, never the job."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyproj_spark.sources.warc import parse_warc_permissive

    good = build_warc(PAGES)
    gz = build_warc(PAGES, gzip_members=True)

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=400))
    def _fuzz_raw(b):
        recs, bad = parse_warc_permissive(b)
        assert isinstance(recs, list) and bad >= 0

    @settings(max_examples=200, deadline=None)
    @given(st.integers(0, len(good) - 1), st.integers(0, 255))
    def _fuzz_mutate(pos, val):
        mutated = good[:pos] + bytes([val]) + good[pos + 1:]
        recs, bad = parse_warc_permissive(mutated)
        assert len(recs) + bad >= 1 or recs == []

    @settings(max_examples=100, deadline=None)
    @given(st.integers(0, len(gz) - 1), st.integers(0, 255))
    def _fuzz_mutate_gz(pos, val):
        mutated = gz[:pos] + bytes([val]) + gz[pos + 1:]
        parse_warc_permissive(mutated)  # must simply not raise

    _fuzz_raw()
    _fuzz_mutate()
    _fuzz_mutate_gz()
