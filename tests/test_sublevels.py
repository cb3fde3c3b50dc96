"""Line/word/glyph hierarchy: Spark-native column derivation vs the
pure-Python kernel mirror, byte/offset-identical over the fixture
corpus (the same two-implementation discipline as test_byte_identity,
one level down — VERDICT r1 item 2)."""

import pytest
from pyspark.sql import functions as F

from ocrd_segment_spark.fixtures import gen_pages, pages_pandas
from ocrd_segment_spark.functions.sublevels import (
    glyphs_col,
    inherit_chain,
    lines_table,
    with_sublevels,
    words_table,
)
from ocrd_segment_spark.kernel.extract import extract_document
from ocrd_segment_spark.kernel.sublevels import sublevels_document
from ocrd_segment_spark.operators.repair import rebase_spans
from ocrd_segment_spark.pipeline import extract_pages

N_PAGES = 80
WIDTH = 6


@pytest.fixture(scope="module")
def golden():
    out = {}
    for r in gen_pages(N_PAGES):
        text, regions, _ = extract_document(r["html"])
        lines, words = sublevels_document(text, regions, line_width=WIDTH)
        out[r["url"]] = (text, lines, words)
    return out


@pytest.fixture(scope="module")
def extracted(spark):
    pdf = pages_pandas(N_PAGES)
    return extract_pages(spark.createDataFrame(pdf)).cache()


def test_words_match_kernel_mirror(extracted, golden):
    rows = words_table(extracted, line_width=WIDTH).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    n_words_total = 0
    for url, (text, _lines, words) in golden.items():
        got = sorted(by_url.get(url, []), key=lambda r: r["start"])
        exp = sorted(words, key=lambda w: w["start"])
        assert len(got) == len(exp), url
        for g, e in zip(got, exp):
            assert (
                g["region_id"], g["line_id"], g["word_id"],
                g["start"], g["end"], g["w_order"],
            ) == (
                e["region_id"], e["line_id"], e["word_id"],
                e["start"], e["end"], e["w_order"],
            ), url
            # word_text is the exact slice, never contains whitespace
            assert g["word_text"] == text[e["start"]:e["end"]], url
            assert " " not in g["word_text"] and "\n" not in g["word_text"]
        n_words_total += len(exp)
    assert n_words_total > 0


def test_lines_match_kernel_mirror(extracted, golden):
    rows = lines_table(extracted, line_width=WIDTH).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    for url, (text, lines, words) in golden.items():
        got = sorted(by_url.get(url, []), key=lambda r: (r["region_id"], r["l_order"]))
        exp = sorted(lines, key=lambda line: (line["region_id"], line["l_order"]))
        assert len(got) == len(exp), url
        for g, e in zip(got, exp):
            assert (
                g["region_id"], g["line_id"], g["start"], g["end"],
                g["l_order"], g["n_words"],
            ) == (
                e["region_id"], e["line_id"], e["start"], e["end"],
                e["l_order"], e["n_words"],
            ), url
        # lines partition the words exactly
        assert sum(g["n_words"] for g in got) == len(words), url


def test_lines_partition_words(extracted):
    """Every word's span lies inside its line's span; per line,
    n_words words reference it."""
    df = with_sublevels(extracted, line_width=WIDTH)
    w = df.select("url", F.explode("word_spans").alias("w")).select(
        "url", "w.line_id", "w.start", "w.end"
    )
    ln = df.select("url", F.explode("line_spans").alias("l")).select(
        "url",
        F.col("l.line_id").alias("line_id"),
        F.col("l.start").alias("ls"),
        F.col("l.end").alias("le"),
        F.col("l.n_words").alias("n_words"),
    )
    j = w.join(ln, ["url", "line_id"])
    bad = j.filter((F.col("start") < F.col("ls")) | (F.col("end") > F.col("le")))
    assert bad.count() == 0
    counts = j.groupBy("url", "line_id", "n_words").count()
    assert counts.filter(F.col("count") != F.col("n_words")).count() == 0


def test_glyphs_are_characters(extracted):
    """Glyph spans tile each word exactly: count == word length, each
    glyph one char wide, contiguous."""
    df = with_sublevels(extracted, line_width=WIDTH)
    w = df.select(F.explode("word_spans").alias("w")).select(
        F.col("w.start").alias("ws"),
        F.col("w.end").alias("we"),
        glyphs_col(F.col("w")).alias("glyphs"),
    )
    checked = w.select(
        (F.size("glyphs") == (F.col("we") - F.col("ws"))).alias("count_ok"),
        F.forall(
            "glyphs", lambda g: (g["end"] - g["start"]) == 1
        ).alias("width_ok"),
        (F.element_at("glyphs", 1)["start"] == F.col("ws")).alias("first_ok"),
        (F.element_at("glyphs", -1)["end"] == F.col("we")).alias("last_ok"),
    )
    assert checked.filter(
        ~F.col("count_ok") | ~F.col("width_ok") | ~F.col("first_ok") | ~F.col("last_ok")
    ).count() == 0


def test_inherit_chain_struct_semantics(spark):
    """The TextStyle chain coalesces WHOLE structs (reference
    extract_words.py:127): a non-null child struct with a null field
    must win over a parent struct with that field set."""
    df = spark.createDataFrame(
        [(1, ("serif", None), ("mono", True)), (2, None, ("mono", True))],
        "id int, child struct<font:string,bold:boolean>, parent struct<font:string,bold:boolean>",
    )
    out = df.select(
        "id", inherit_chain(F.col("child"), F.col("parent")).alias("style")
    ).collect()
    by_id = {r["id"]: r["style"] for r in out}
    assert by_id[1]["font"] == "serif" and by_id[1]["bold"] is None
    assert by_id[2]["font"] == "mono" and by_id[2]["bold"] is True


def test_rebase_roundtrip_identity(extracted):
    """Forward + inverse rebase is the identity on every span
    (replace_original/replace_page analog)."""
    df = extracted.filter(F.size("region_spans") > 0).withColumn(
        "orig", F.col("region_spans")
    ).withColumn("origin", F.element_at("region_spans", 1)["end"] + F.lit(7))
    back = rebase_spans(rebase_spans(df, F.col("origin")), -F.col("origin"))
    assert back.filter(F.col("region_spans") != F.col("orig")).count() == 0


def test_sublevels_plan_is_narrow(extracted):
    """Scale audit: word/line derivation adds ZERO Exchange beyond the
    extraction plan itself (pure per-row expressions)."""
    base = extracted.sparkSession.createDataFrame(
        pages_pandas(8)
    )
    out = words_table(extract_pages(base), line_width=WIDTH)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_reading_order_groups_nesting(extracted):
    """Group tree invariants: every line group's id appears as a member
    of exactly one region group; word memberships partition the words;
    member order equals reading order."""
    from ocrd_segment_spark.functions.sublevels import reading_order_groups

    g = reading_order_groups(extracted, line_width=WIDTH).cache()
    rows = g.collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    for url, grs in by_url.items():
        page = [r for r in grs if r["level"] == "page"]
        regions = [r for r in grs if r["level"] == "region"]
        lines = [r for r in grs if r["level"] == "line"]
        assert len(page) == 1
        # page members = exactly the region group ids
        page_members = page[0]["member_ids"].split(",") if page[0]["member_ids"] else []
        assert sorted(page_members) == sorted(r["group_id"] for r in regions)
        # every line group referenced by exactly one region group
        region_members = [
            m for r in regions for m in (r["member_ids"].split(",") if r["member_ids"] else [])
        ]
        assert sorted(region_members) == sorted(r["group_id"] for r in lines)
        assert len(set(region_members)) == len(region_members)
        # line members count matches n_members and words are unique
        word_members = [
            m for r in lines for m in (r["member_ids"].split(",") if r["member_ids"] else [])
        ]
        assert len(set(word_members)) == len(word_members)
        for r in grs:
            n = len(r["member_ids"].split(",")) if r["member_ids"] else 0
            assert n == r["n_members"]
    g.unpersist()


def test_style_runs_and_word_style(spark):
    """TextStyle runs through the styled pipeline; per-word style
    resolution (word inside a run gets its flags, outside gets NULL =
    inherit, reference extract_words.py:127)."""
    import pandas as pd
    from ocrd_segment_spark.functions.sublevels import word_style
    from ocrd_segment_spark.config import ExtractParams

    html = (
        b"<html><body><p>plain <b>bold words</b> after "
        b"<code>mono bit</code> tail</p></body></html>"
    )
    pdf = pd.DataFrame({"url": ["u1"], "html": [html]})
    out = extract_pages(spark.createDataFrame(pdf), ExtractParams(style_spans=True))
    row = out.collect()[0]
    text = row["extracted_text"]
    runs = [(s["start"], s["end"], s["bold"], s["monospace"]) for s in row["style_spans"]]
    assert [text[s:e] for s, e, _, _ in runs] == ["bold words", "mono bit"]
    assert [(b, m) for _, _, b, m in runs] == [(True, False), (False, True)]

    w = with_sublevels(out, line_width=4).select(
        "style_spans", F.explode("word_spans").alias("w")
    ).select(
        F.col("w.w_order").alias("w_order"),
        word_style(F.col("w"), F.col("style_spans")).alias("style"),
    )
    styles = {r["w_order"]: r["style"] for r in w.collect()}
    # text: plain bold words after mono bit tail → w_order 0..6
    assert styles[0] is None                      # plain → inherit
    assert styles[1]["bold"] and not styles[1]["monospace"]
    assert styles[2]["bold"]
    assert styles[3] is None                      # after
    assert styles[4]["monospace"] and not styles[4]["bold"]
    assert styles[5]["monospace"]
    assert styles[6] is None                      # tail


def test_external_text_unicode_whitespace_parity(spark):
    """Externally supplied region text (replace_region_text, imported
    segmentations) can contain Unicode whitespace the kernel never
    emits (NBSP, U+2028). Both sides must split on the SAME six-char
    ASCII class — NBSP stays inside the token on the mirror too
    (ADVICE r2: mirror used Python \\s, which also matches NBSP)."""
    text = "alpha beta gamma delta end"
    regions = [{"region_id": "r0", "start": 0, "end": len(text)}]
    _lines, words = sublevels_document(text, regions, line_width=WIDTH)
    mirror_tokens = [text[w["start"]:w["end"]] for w in words]
    assert mirror_tokens == ["alpha beta", "gamma delta", "end"]

    df = spark.createDataFrame(
        [("ext", text, [("r0", "p", "ext", 0, len(text), "", 0, 1.0)])],
        "url string, extracted_text string, region_spans array<struct<"
        "region_id:string, rtype:string, subtype:string, start:bigint,"
        "end:bigint, parent_id:string, order:int, score:double>>",
    )
    got = [
        (r["start"], r["end"], r["word_text"])
        for r in words_table(df, line_width=WIDTH).orderBy("start").collect()
    ]
    assert got == [(w["start"], w["end"], text[w["start"]:w["end"]]) for w in words]


def test_words_exact_over_preserve_pre_text(spark):
    """Verbatim-<pre> regions carry consecutive whitespace; the
    separator-position word scan must drop the empty tokens and keep
    every surviving word span slicing extracted_text exactly."""
    from ocrd_segment_spark.config import ExtractParams
    from ocrd_segment_spark.pipeline import extract_pages

    html = ("<html><body><pre>\ndef f(x):\n    return x  \n\n</pre>"
            "<p>tail words</p></body></html>").encode()
    df = spark.createDataFrame([("u1", html)], "url string, html binary")
    out = extract_pages(df, ExtractParams(preserve_pre=True))
    txt = out.collect()[0]["extracted_text"]
    rows = words_table(out, 8).select(
        "word_text", "start", "end"
    ).collect()
    words = sorted(rows, key=lambda r: r["start"])
    assert [r["word_text"] for r in words] == [
        "def", "f(x):", "return", "x", "tail", "words"
    ]
    for r in words:
        assert r["start"] < r["end"]  # no empty tokens survive
        assert txt[r["start"]:r["end"]] == r["word_text"]
