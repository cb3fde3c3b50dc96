"""PDF text source (sources/pdf): frozen-subset parse, FlateDecode,
escape decoding, Length honoring, and the extracted-table adapter."""

import zlib

from ocrd_segment_spark.sources.pdf import _extract_one, pdf_pages, pdf_text


def _pdf(*objects: bytes) -> bytes:
    body = b"".join(
        b"%d 0 obj\n" % (i + 1) + o + b"\nendobj\n"
        for i, o in enumerate(objects)
    )
    return b"%PDF-1.4\n" + body + b"%%EOF\n"


def _stream(content: bytes, head: bytes = b"<< >>") -> bytes:
    return head + b"\nstream\n" + content + b"\nendstream"


def test_text_operators_and_lines():
    pdf = _pdf(
        _stream(b"BT (Hello 7) Tj 0 -14 Td (World) Tj T* (!) Tj ET"),
        b"<< /Type /Catalog >>",
    )
    assert _extract_one(pdf) == (
        2, 1, 1, "Hello 7\nWorld\n!", True, [(0, 15)],
    )


def test_length_truncation_and_tj_array():
    content = b"BT [(A) -200 (B)] TJ (C) ' ET"
    pdf = _pdf(
        _stream(
            content + b"\nBT (past the Length) Tj ET",
            head=b"<< /Length %d >>" % len(content),
        )
    )
    # /Length wins over the endstream scan; ' = newline then show
    assert _extract_one(pdf)[3] == "AB\nC"


def test_escapes_hex_and_quote_ops():
    content = b"BT (a\\(b\\)c\\\\d\\ne\\101) Tj <48 69> Tj (f) \" ET"
    pdf = _pdf(_stream(content))
    assert _extract_one(pdf)[3] == "a(b)c\\d\neAHi\nf"


def test_flate_roundtrip_and_broken_stream():
    content = b"BT (compressed) Tj ET"
    z = zlib.compress(content)
    good = _stream(z, head=b"<< /Length %d /Filter /FlateDecode >>" % len(z))
    bad = _stream(b"not zlib", head=b"<< /Filter /FlateDecode >>")
    n_obj, n_str, n_text, text, ok, spans = _extract_one(_pdf(bad, good))
    assert (n_obj, n_str, n_text) == (2, 2, 1)
    assert text == "compressed" and ok is False and spans == [(0, 10)]


def test_indirect_length_falls_back_to_endstream():
    pdf = _pdf(_stream(b"BT (x) Tj ET", head=b"<< /Length 5 0 R >>"))
    assert _extract_one(pdf)[3] == "x"


def test_no_text_and_empty_blob():
    assert _extract_one(_pdf(_stream(b"q 1 0 0 1 0 0 cm Q"))) == (
        1, 1, 0, "", True, [],
    )
    assert _extract_one(b"") == (0, 0, 0, "", True, [])


def test_pdf_text_dataframe(spark):
    pdf = _pdf(_stream(b"BT (doc) Tj ET"))
    df = spark.createDataFrame(
        [("u1", bytearray(pdf))], "url string, data binary"
    )
    row = pdf_text(df).collect()[0]
    assert (row["url"], row["text"], row["parse_ok"]) == ("u1", "doc", True)


def test_pdf_pages_matches_extract_schema(spark):
    from ocrd_segment_spark.pipeline import EXTRACT_SCHEMA

    pdf = _pdf(
        _stream(b"BT (body text) Tj ET"),
        _stream(b"q Q"),
    )
    df = spark.createDataFrame(
        [("u1", bytearray(pdf))], "url string, data binary"
    )
    out = pdf_pages(df)
    assert [f.name for f in out.schema.fields] == [
        f.name for f in EXTRACT_SCHEMA.fields
    ]
    row = out.collect()[0]
    assert row["extracted_text"] == "body text"
    [span] = row["region_spans"]
    assert (span["region_id"], span["rtype"], span["order"]) == (
        "b0001", "block", 0,
    )
    # the span slices extracted_text exactly (the engine contract)
    assert row["extracted_text"][span["start"]:span["end"]] == "body text"
    lin = row["lineage"]
    assert lin["kernel_version"] == "pdf-subset-1"
    assert not lin["parse_failed"]
    assert (lin["n_candidates"], lin["n_kept"], lin["n_dropped"]) == (2, 1, 1)


def test_pdf_stream_matches_batch(spark, tmp_path):
    # the stream_job PDF lane drains the same text the batch adapter
    # produces (exactly-once scaffolding + blob schema and transform)
    from ocrd_segment_spark.streaming.extract_stream import stream_extract

    src = str(tmp_path / "blobs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    blobs = [
        (f"u{i}", bytearray(_pdf(_stream(b"BT (pdf %d) Tj T* (body) Tj ET" % i))))
        for i in range(8)
    ]
    spark.createDataFrame(blobs, "url string, data binary").write.parquet(src)

    q = stream_extract(
        spark, src, out, ckpt,
        transform=lambda b: pdf_pages(b),
        schema="url string, data binary",
    )
    assert q.awaitTermination(300)

    streamed = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        r["url"]: r["extracted_text"]
        for r in pdf_pages(spark.read.parquet(src)).collect()
    }
    assert streamed == batch and len(streamed) == 8


def test_operator_lookalikes_inside_strings():
    # review finding: 'ET' inside a shown string must not end the
    # block; 'Tj'/'BT' lookalikes must not fire as operators
    pdf = _pdf(_stream(b"BT (MILLER ET AL 2020 Tj BT) Tj ET"))
    assert _extract_one(pdf)[3] == "MILLER ET AL 2020 Tj BT"


def test_balanced_unescaped_parens():
    # ISO 32000-1 7.3.4.2: balanced parens need no escapes
    pdf = _pdf(_stream(b"BT (see (note (1)) below) Tj ET"))
    assert _extract_one(pdf)[3] == "see (note (1)) below"


def test_unshown_strings_and_hex_in_arrays():
    pdf = _pdf(_stream(
        b"BT (ignored no-op string) (shown) Tj"
        b" [(A) -3 <4243> (D)] TJ <48> ' ET"
    ))
    # no-op string ignored; TJ concatenates literal AND hex members;
    # a hex string shows under ' with its newline
    assert _extract_one(pdf)[3] == "shownABCD\nH"


def test_pdf_meta_and_outlinks(spark):
    from ocrd_segment_spark.sources.pdf import pdf_doc_meta, pdf_outlinks

    blob = (
        b"1 0 obj\n<< /Title (Ann\\(ual\\) Report)"
        b" /Author (\xfe\xff\x00J\x00o) >>\nendobj\n"
        b"2 0 obj\n<< /A << /S /URI /URI (https://x.org/a) >> >>\nendobj\n"
        b"3 0 obj\n<< /A << /URI (https://x.org/a) >>"
        b" /B << /URI (ftp://drop.me/x) >> >>\nendobj\n"
    )
    zstream = zlib.compress(b"<< /URI (https://y.org/z) >>")
    blob += (
        b"4 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n"
        % len(zstream) + zstream + b"\nendstream\nendobj\n"
    )
    df = spark.createDataFrame(
        [("https://src.org/d.pdf", bytearray(blob))],
        "url string, data binary",
    )
    m = pdf_doc_meta(df).collect()[0]
    # escaped parens decode; UTF-16BE (BOM) strings decode per spec;
    # URIs dedupe first-seen across raw bodies AND inflated streams
    assert (m["title"], m["author"]) == ("Ann(ual) Report", "Jo")
    assert m["uris"] == [
        "https://x.org/a", "ftp://drop.me/x", "https://y.org/z",
    ]
    edges = {
        (r["src_host"], r["href"], r["dst_host"])
        for r in pdf_outlinks(df).collect()
    }
    # the outlink shape keeps absolute http(s) only (ftp dropped)
    assert edges == {
        ("src.org", "https://x.org/a", "x.org"),
        ("src.org", "https://y.org/z", "y.org"),
    }
