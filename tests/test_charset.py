"""Charset sniffing + decoding (functions/charset)."""

from ocrd_segment_spark.functions.charset import (
    decode_pages,
    with_charset,
)


def _sniff(spark, *bodies):
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(bodies)], "doc_id long, html binary"
    )
    return {
        r["doc_id"]: (r["charset"], r["charset_source"])
        for r in with_charset(df).collect()
    }


def test_bom_arms_win_over_meta(spark):
    got = _sniff(
        spark,
        "﻿<meta charset='koi8-r'>".encode("utf-8"),
        "<p>hi</p>".encode("utf-16le"),  # starts FF FE
        "<p>hi</p>".encode("utf-16-be"),  # BOM-less be has no FE FF...
        b"\xfe\xff" + "<p>hi</p>".encode("utf-16-be"),
        b"plain ascii no declaration",
    )
    assert got[0] == ("utf-8", "bom")  # BOM beats the meta claim
    assert got[1][0] in ("utf-8", "utf-16le")
    assert got[3] == ("utf-16be", "bom")
    assert got[4] == ("utf-8", "default")


def test_utf16le_python_bom(spark):
    # Python's utf-16 codec (native order) writes the LE BOM first
    got = _sniff(spark, "<p>x</p>".encode("utf-16"))
    assert got[0] == ("utf-16le", "bom")


def test_decode_roundtrips_legacy_pages(spark):
    pages = [
        ("latin", "caf\xe9 menu".encode("iso-8859-1"), None),
        ("w1252", "curly “quotes”".encode("windows-1252"), None),
        ("u16", "你好 world".encode("utf-16"), None),
        ("utf8", "plain café".encode("utf-8"), None),
        ("none", None, None),
    ]
    html = {
        "latin": b'<meta charset="iso-8859-1">' + pages[0][1],
        "w1252": b"<meta charset=windows-1252>" + pages[1][1],
        "u16": pages[2][1],  # BOM routes it
        "utf8": pages[3][1],
        "none": None,
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in html.items()], "url string, html binary"
    )
    out = {
        r["url"]: (r["decoded_text"], r["decode_ok"])
        for r in decode_pages(with_charset(df)).collect()
    }
    assert out["latin"][0].endswith("café menu") and out["latin"][1]
    assert "“quotes”" in out["w1252"][0] and out["w1252"][1]
    assert out["u16"] == ("你好 world", True)  # BOM stripped after decode
    assert out["utf8"] == ("plain café", True)
    assert out["none"] == (None, False)


def test_unknown_codec_falls_back_marked(spark):
    df = spark.createDataFrame(
        [("u", b'<meta charset="martian-9">hello')], "url string, html binary"
    )
    out = decode_pages(with_charset(df)).collect()[0]
    assert out["charset"] == "martian-9"
    assert out["decode_ok"] is False
    assert "hello" in out["decoded_text"]


def test_declaration_past_window_is_default(spark):
    body = b"<title>" + b"x" * 1100 + b'</title><meta charset="koi8-r">'
    assert _sniff(spark, body)[0] == ("utf-8", "default")


def test_run_extract_sniff_charset_repairs_legacy_pages(spark, tmp_path):
    from ocrd_segment_spark.pipeline import run_extract

    para = "<html><body><p>caf\xe9 menu and r\xe9sum\xe9 here</p></body></html>"
    pages = [
        ("https://a.org/u8", ("<html><body><p>plain utf-8 page</p></body></html>").encode("utf-8")),
        ("https://a.org/l1", ('<html><head><meta charset="iso-8859-1"></head>' + para).encode("iso-8859-1")),
        ("https://a.org/u16", para.encode("utf-16")),
    ]
    inp = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    spark.createDataFrame(pages, "url string, html binary").write.parquet(inp)
    run_extract(spark, inp, out, sniff_charset=True)
    got = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(out).collect()
    }
    assert "café menu and résumé here" in got["https://a.org/l1"]
    assert "café menu and résumé here" in got["https://a.org/u16"]
    assert "plain utf-8 page" in got["https://a.org/u8"]


def test_non_text_codec_claims_cannot_crash_decode(spark):
    # hex/base64/idna resolve in the codec registry but are not text
    # codecs (or raise despite errors='replace') — one hostile page
    # must fall back to utf-8 with decode_ok=false, never fail a task
    rows = [
        ("hex", b'<meta charset="hex">payload'),
        ("b64", b'<meta charset="base64">payload'),
        ("idna", b'<meta charset="idna">\xffpayload'),
        ("undef", b'<meta charset="undefined">x'),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    from ocrd_segment_spark.functions.charset import decode_pages, with_charset

    out = {r["url"]: r for r in decode_pages(with_charset(df)).collect()}
    assert all(not out[u]["decode_ok"] for u in ("hex", "b64", "undef"))
    assert "payload" in out["hex"]["decoded_text"]


def test_sniff_floor_spreads_both_branches(spark, tmp_path):
    """``python_parallelism`` floors the pages once, ahead of the
    clean/tail split: the clean majority of a one-file input reaches
    extraction spread over the floored partitions, not in the scan's
    single partition. Catalyst pushes each branch's sniff filter below
    the round-robin repartition, so each branch shuffles only its own
    rows."""
    from pyspark.sql import functions as F

    from ocrd_segment_spark.functions.charset import reencode_non_utf8
    from ocrd_segment_spark.pipeline import extract_pages
    from ocrd_segment_spark.plans.audit import physical_plan

    src = str(tmp_path / "pages")
    spark.createDataFrame(
        [
            (
                f"https://e.org/{i}",
                (b'<meta charset="windows-1252">' if i % 10 == 0 else b"")
                + b"<html><body><p>page %d caf\xe9</p></body></html>" % i,
            )
            for i in range(80)
        ],
        "url string, html binary",
    ).coalesce(1).write.parquet(src)
    pages = spark.read.parquet(src)
    assert pages.rdd.getNumPartitions() == 1
    out = extract_pages(
        reencode_non_utf8(pages, python_parallelism=8), python_parallelism=8
    )
    sizes = [
        r["n"]
        for r in out.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert sum(sizes) == 80
    assert max(sizes) <= 10 and len(sizes) >= 8, sizes
    assert physical_plan(out).count("RoundRobinPartitioning") == 2
