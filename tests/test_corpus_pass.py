"""The per-page chain both corpus jobs share: gates → extract → quality
flags → BPE metering."""

from __future__ import annotations

import ast
import datetime
import inspect
import os
import zlib

import pytest

from ocrd_segment_spark.operators.pre_gates import GATES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("window_gate", ["snapshot_collapse", "honor_meta"])
def test_gate_empties_pages_before_a_window_gate(spark, tmp_path, window_gate):
    """A blocklist that drops every page ahead of the snapshot or
    canonical window still reports its count, and the funnel still
    reconciles. Adaptive execution replaces a window over an empty
    shuffle stage by an empty relation, and drops the stage with it; a
    drop count observed inside that stage never reports."""
    from jobs.corpus_job import build_corpus

    n = 20
    rows = [
        (
            f"https://a.example.org/p{i}",
            datetime.datetime(2026, 1, 1),
            f"<html><body><p>the children were playing game {i} in the"
            " garden near the river</p></body></html>".encode(),
        )
        for i in range(n)
    ]
    src, bl = str(tmp_path / "pages"), str(tmp_path / "bl")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary"
    ).write.parquet(src)
    spark.createDataFrame([("example.org",)], "domain string").write.parquet(bl)

    funnel = build_corpus(
        spark, src, str(tmp_path / "corpus"), min_quality=0.0, min_tokens=0,
        blocklist_path=bl, **{window_gate: True},
    )
    ran = [g.key for g in GATES if g.key is not None and funnel[g.key] != -1]
    assert ran[0] == "dropped_domain" and len(ran) > 1
    assert funnel["dropped_domain"] == n
    assert all(funnel[k] == 0 for k in ran[1:])
    assert funnel["pages"] == funnel["corpus_docs"] == 0
    assert sum(funnel[k] for k in ran) + funnel["pages"] == n


def _opts(body, **kw) -> dict:
    """A job body's keyword defaults, overridden by ``kw``."""
    params = inspect.signature(body).parameters
    return {k: p.default for k, p in params.items()
            if p.default is not p.empty} | kw


def test_stream_shuffles_once_batch_plan_unchanged(spark, tmp_path):
    """Every parallelism floor on a streaming frame is a repartition:
    the stream applies one, ahead of extraction. The batch count pins
    the batch plan: the charset gate floors the pages once, ahead of
    its clean/tail split, and Catalyst pushes each branch's sniff
    filter below that repartition, so the plan holds two round-robin
    exchanges, each shuffling only its own branch's rows; the union
    then spreads every row over the floored partitions, and extraction
    takes no floor of its own."""
    from jobs.corpus_job import build_corpus
    from jobs.stream_job import run_stream
    from ocrd_segment_spark.operators.corpus_filters import page_scorer
    from ocrd_segment_spark.plans.audit import physical_plan
    from ocrd_segment_spark.streaming.extract_stream import PAGES_SCHEMA

    src = str(tmp_path / "pages")
    spark.createDataFrame(
        [("u", b"<html><body><p>a page</p></body></html>")],
        "url string, html binary",
    ).write.parquet(src)
    kw = dict(python_parallelism=8, sniff_charset=True, max_compression=0.9)
    for body, streaming, pages, want in (
        (build_corpus, False, spark.read.parquet(src), 2),
        (run_stream, True, spark.readStream.schema(PAGES_SCHEMA).parquet(src), 1),
    ):
        scored, _ = page_scorer(
            spark, _opts(body, **kw), streaming=streaming
        )(pages)
        plan = physical_plan(scored)
        assert plan.count("RoundRobinPartitioning") == want, (streaming, plan)


def _pdf(text: bytes, compress: bool = False) -> bytearray:
    content = b"BT (%s) Tj T* (the end of the page) Tj ET" % text
    head = b"<< >>"
    if compress:
        content = zlib.compress(content)
        head = b"<< /Length %d /Filter /FlateDecode >>" % len(content)
    obj = b"1 0 obj\n" + head + b"\nstream\n" + content + b"\nendstream\nendobj\n"
    return bytearray(b"%PDF-1.4\n" + obj + b"%%EOF\n")


def test_pdf_lane_through_both_jobs(spark, tmp_path):
    """The same pdf blobs through build_corpus and run_stream keep the
    same urls with the same extracted_text and subword counts."""
    from jobs.corpus_job import build_corpus
    from jobs.stream_job import run_stream

    texts = [
        b"the children were playing in the garden near the river",
        b"she opened the window and watched the quiet street below",
        b"die kinder spielten den ganzen tag im garten am fluss",
        b"there is nothing better than a warm cup of tea at night",
    ]
    blobs = [(f"doc{i}", _pdf(t, compress=i % 2 == 1))
             for i, t in enumerate(texts)]
    blobs.append(("junk", bytearray(b"not a pdf at all")))
    src = str(tmp_path / "blobs")
    spark.createDataFrame(blobs, "url string, data binary").write.parquet(src)
    kw = dict(input_format="pdf", min_quality=0.0, min_tokens=3,
              langs=["en"], count_bpe=True, python_parallelism=2)

    funnel = build_corpus(spark, src, str(tmp_path / "batch"), **kw)
    q = run_stream(spark, src, str(tmp_path / "stream"),
                   str(tmp_path / "ckpt"), **kw)
    assert q.awaitTermination(300)

    def rows(path):
        return {r["url"]: (r["extracted_text"], r["n_bpe_tokens"])
                for r in spark.read.parquet(path).collect()}

    batch, stream = rows(str(tmp_path / "batch")), rows(str(tmp_path / "stream"))
    assert batch == stream
    assert sorted(batch) == ["doc0", "doc1", "doc3"]
    assert batch["doc1"][0] == texts[1].decode() + "\nthe end of the page"
    assert funnel["corpus_docs"] == 3 and funnel["dropped_lang"] == 1


# the per-page chain's stages: only page_scorer composes them
CHAIN = {
    "apply_gates", "extract_pages", "pdf_extracted", "with_keep_flags",
    "reference_lm_table", "load_vocab", "with_bpe_counts",
}


def _calls(node: ast.AST) -> set[str]:
    return {
        f.id if isinstance(f, ast.Name) else f.attr
        for n in ast.walk(node) if isinstance(n, ast.Call)
        for f in (n.func,) if isinstance(f, (ast.Name, ast.Attribute))
    }


def test_jobs_leave_the_chain_to_page_scorer():
    from ocrd_segment_spark.operators import corpus_filters

    for job in ("corpus_job.py", "stream_job.py"):
        path = os.path.join(REPO, "jobs", job)
        assert not _calls(ast.parse(open(path).read(), path)) & CHAIN, job
    path = corpus_filters.__file__
    [scorer] = [n for n in ast.parse(open(path).read(), path).body
                if isinstance(n, ast.FunctionDef) and n.name == "page_scorer"]
    assert _calls(scorer) >= CHAIN


def test_stream_extract_is_source_transform_sink():
    from ocrd_segment_spark.streaming.extract_stream import stream_extract

    assert list(inspect.signature(stream_extract).parameters) == [
        "spark", "input_path", "output_path", "checkpoint",
        "transform", "schema", "available_now",
    ]


def test_a_page_an_earlier_gate_drops_never_wins_a_window(spark, tmp_path):
    """The batch gates flag instead of filter, so the windows see every
    page: a page an earlier gate drops must still lose its window, as
    if it had been filtered out. The newest capture of a url is an
    image (content type), and the least alias of a canonical group is
    noindex; the older capture and the other alias are kept, and
    neither window counts a drop."""
    from jobs.corpus_job import build_corpus

    t = "the children were playing in the garden near the river all day"

    def pg(head, text):
        return f"<html><head>{head}</head><body><p>{text}</p></body></html>"

    canon = '<link rel="canonical" href="https://a.org/main">'
    day = datetime.datetime
    rows = [
        ("https://s.org/p", day(2026, 2, 1), b"\x89PNG\r\n\x1a\n" + b"\0" * 64),
        ("https://s.org/p?utm_source=feed", day(2026, 1, 1),
         pg("", t + " older capture").encode()),
        ("https://a.org/a1", day(2026, 1, 1),
         pg(canon + '<meta name="robots" content="noindex">',
            t + " hidden alias").encode()),
        ("https://a.org/a2", day(2026, 1, 1),
         pg(canon, t + " visible alias").encode()),
    ]
    src, out = str(tmp_path / "pages"), str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary"
    ).write.parquet(src)
    funnel = build_corpus(
        spark, src, out, min_quality=0.0, min_tokens=0,
        sniff_content_type=True, snapshot_collapse=True, honor_meta=True,
    )
    keys = ("dropped_content_type", "dropped_stale_snapshot",
            "dropped_noindex", "dropped_canonical_alias", "pages")
    assert [funnel[k] for k in keys] == [1, 0, 1, 0, 2]
    kept = {r.url for r in spark.read.parquet(out).select("url").collect()}
    assert kept == {"https://s.org/p?utm_source=feed", "https://a.org/a2"}


def test_a_dropped_page_runs_on_without_its_body(spark):
    """Observed, a page a gate drops runs on through the later gates
    (the windows still rank it), but with its binary columns NULL, so
    the later sniffs and the window shuffles skip its bytes."""
    from pyspark.sql import functions as F

    from ocrd_segment_spark.operators.pre_gates import PASSED, Gate, apply_gates

    seen = []

    def probe(df, o):
        seen.append(df)
        return df

    gates = [
        Gate("dropped_x", (), False, True, build=lambda df, o: df,
             keep=lambda o: F.col("url") != "drop", drop=()),
        Gate(None, (), False, True, build=probe, keep=None, drop=()),
    ]
    pages = spark.createDataFrame(
        [("keep", "k", b"a"), ("drop", "d", b"b")],
        "url string, text string, html binary",
    )
    kept, obs = apply_gates(pages, gates, {}, observe=True)
    assert [tuple(r) for r in kept.collect()] == [("keep", "k", b"a")]
    assert obs.get == {"dropped_x": 1}
    rows = seen[0].select("url", "text", "html", PASSED).collect()
    assert sorted(tuple(r) for r in rows) == [
        ("drop", "d", None, False), ("keep", "k", b"a", True),
    ]
