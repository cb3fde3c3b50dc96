"""Tests for HTML head-metadata harvesting and canonical-URL collapse
(operators/headmeta): canonical <link> harvest under both attribute
orders, the frozen href-resolution rule, robots noindex detection, the
one-shuffle collapse keep rule, and the scan-stage plan shape."""

from pyspark.sql import functions as F

from ocrd_segment_spark.operators.headmeta import (
    canonical_collapse,
    head_meta,
)
from ocrd_segment_spark.plans import audit


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, html binary")


def _page(url, head):
    return (url, f"<html><head>{head}</head><body>t</body></html>".encode())


# ------------------------------------------------------------ harvest
def test_canonical_both_attribute_orders_and_case(spark):
    rows = [
        _page(
            "https://a.org/1",
            '<link rel="canonical" href="https://a.org/c1">',
        ),
        _page(
            "https://a.org/2",
            '<LINK HREF="https://a.org/c2" REL="Canonical">',
        ),
        _page("https://a.org/3", '<link rel="stylesheet" href="/x.css">'),
    ]
    got = {
        r.url: r.canonical_href
        for r in head_meta(_pages(spark, rows)).collect()
    }
    assert got == {
        "https://a.org/1": "https://a.org/c1",
        "https://a.org/2": "https://a.org/c2",
        "https://a.org/3": None,
    }


def test_first_canonical_wins(spark):
    rows = [
        _page(
            "https://a.org/1",
            '<link rel="canonical" href="https://a.org/first">'
            '<link rel="canonical" href="https://a.org/second">',
        )
    ]
    [r] = head_meta(_pages(spark, rows)).collect()
    assert r.canonical_href == "https://a.org/first"


def test_resolution_rule_arms(spark):
    cases = {
        # absolute (any case) kept as-is
        "https://a.org/abs": ("HTTPS://B.Org/x", "HTTPS://B.Org/x"),
        # protocol-relative gets the page scheme
        "https://a.org/rel": ("//cdn.org/y", "https://cdn.org/y"),
        # foreign scheme -> NULL
        "https://a.org/mail": ("mailto:x@y.z", None),
        # rooted path -> page origin
        "https://a.org/root": ("/p/1", "https://a.org/p/1"),
        # relative path -> NULL (frozen rule excludes directory maths)
        "https://a.org/relpath": ("other.html", None),
    }
    rows = [
        _page(url, f'<link rel="canonical" href="{href}">')
        for url, (href, _) in cases.items()
    ]
    got = {
        r.url: r.canonical_url
        for r in head_meta(_pages(spark, rows)).collect()
    }
    assert got == {url: want for url, (_, want) in cases.items()}


def test_robots_orders_and_noindex(spark):
    rows = [
        _page("https://a.org/1", '<meta name="robots" content="NOINDEX">'),
        _page(
            "https://a.org/2",
            '<META CONTENT="index, follow" NAME="robots">',
        ),
        _page("https://a.org/3", '<meta name="viewport" content="w=1">'),
        _page(
            "https://a.org/4",
            '<meta name="robots" content="noindex, nofollow">',
        ),
    ]
    got = {
        r.url: (r.robots, r.noindex)
        for r in head_meta(_pages(spark, rows)).collect()
    }
    assert got == {
        "https://a.org/1": ("NOINDEX", True),
        "https://a.org/2": ("index, follow", False),
        "https://a.org/3": (None, False),
        "https://a.org/4": ("noindex, nofollow", True),
    }


# ----------------------------------------------------------- collapse
def test_collapse_prefers_self_canonical_then_min_url(spark):
    canon = '<link rel="canonical" href="https://a.org/main">'
    rows = [
        _page("https://a.org/zz-alias", canon),
        _page("https://a.org/main", canon),  # self-canonical
        _page("https://a.org/aa-alias", canon),
        _page("https://b.org/loner", ""),  # no canonical: own group
    ]
    got = {
        r.canonical_url: r
        for r in canonical_collapse(_pages(spark, rows)).collect()
    }
    main = got["https://a.org/main"]
    assert (main.url, main.n_pages, main.n_self) == (
        "https://a.org/main",
        3,
        1,
    )
    loner = got["https://b.org/loner"]
    assert (loner.url, loner.n_pages, loner.n_self) == (
        "https://b.org/loner",
        1,
        1,
    )


def test_collapse_min_url_when_canonical_not_crawled(spark):
    canon = '<link rel="canonical" href="https://a.org/elsewhere">'
    rows = [
        _page("https://a.org/b-alias", canon),
        _page("https://a.org/a-alias", canon),
    ]
    [r] = canonical_collapse(_pages(spark, rows)).collect()
    assert (r.canonical_url, r.url, r.n_self) == (
        "https://a.org/elsewhere",
        "https://a.org/a-alias",
        0,
    )


def test_collapse_drops_noindex(spark):
    rows = [
        _page(
            "https://a.org/hidden",
            '<meta name="robots" content="noindex">',
        ),
        _page("https://a.org/seen", ""),
    ]
    out = canonical_collapse(_pages(spark, rows)).collect()
    assert [r.canonical_url for r in out] == ["https://a.org/seen"]
    kept = canonical_collapse(
        _pages(spark, rows), drop_noindex=False
    ).collect()
    assert len(kept) == 2


# -------------------------------------------------------- plan shapes
def test_head_meta_is_scan_stage(spark):
    """head_meta must ride the scan: no Exchange, no Python stage."""
    df = head_meta(
        _pages(spark, [_page("https://a.org/1", "")])
    )
    plan = audit.physical_plan(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_collapse_is_one_shuffle_partial_agg(spark):
    """canonical_collapse: exactly one Exchange (the group key) and a
    partial_min before it (map-side combine), no window sort."""
    df = canonical_collapse(
        _pages(spark, [_page("https://a.org/1", "")])
    )
    plan = audit.physical_plan(df)
    # formatted plans list each node twice (tree + detail section)
    assert plan.count("Exchange") == 2, plan
    assert "partial_min" in plan
    assert "Window" not in plan


# ----------------------------------------------------------- hreflang
from ocrd_segment_spark.operators.headmeta import (  # noqa: E402
    hreflang_clusters,
    hreflang_links,
)


def test_hreflang_links_orders_resolution_and_noise(spark):
    head = (
        '<link rel="alternate" hreflang="de" href="https://x.org/de">'
        '<LINK HREFLANG="en" HREF="//x.org/en" REL="Alternate">'
        '<link rel="alternate" hreflang="fr" href="/fr">'
        '<link rel="alternate" hreflang="zz" href="mailto:a@b.c">'
        '<link rel="alternate" href="https://x.org/nolang">'
        '<link rel="stylesheet" href="/s.css">'
    )
    out = hreflang_links(
        _pages(spark, [_page("https://x.org/start", head)])
    ).collect()
    got = {(r.hreflang, r.alt_url) for r in out}
    assert got == {
        ("de", "https://x.org/de"),
        ("en", "https://x.org/en"),
        ("fr", "https://x.org/fr"),
    }
    assert all(r.url == "https://x.org/start" for r in out)


def test_hreflang_clusters_consistent_group_and_singleton(spark):
    def head(g):
        return (
            f'<link rel="alternate" hreflang="de" href="https://x.org/de/{g}">'
            f'<link rel="alternate" hreflang="en" href="https://x.org/en/{g}">'
        )

    rows = [
        _page("https://x.org/de/1", head(1)),
        _page("https://x.org/en/1", head(1)),
        _page("https://x.org/solo", ""),
    ]
    got = {
        r.url: (r.cluster_key, r.n_alternates)
        for r in hreflang_clusters(_pages(spark, rows)).collect()
    }
    assert got == {
        "https://x.org/de/1": ("https://x.org/de/1", 2),
        "https://x.org/en/1": ("https://x.org/de/1", 2),
        "https://x.org/solo": ("https://x.org/solo", 0),
    }


def test_hreflang_inconsistent_declarations_split_documented(spark):
    # page A declares B, but B declares nothing: row-local keys differ
    rows = [
        _page(
            "https://x.org/a",
            '<link rel="alternate" hreflang="en" href="https://x.org/b">',
        ),
        _page("https://x.org/b", ""),
    ]
    got = {
        r.url: r.cluster_key
        for r in hreflang_clusters(_pages(spark, rows)).collect()
    }
    # A keys at min(a, b) = a; B is its own singleton — the documented
    # split; connected_components is the transitive-closure escape
    assert got == {
        "https://x.org/a": "https://x.org/a",
        "https://x.org/b": "https://x.org/b",
    }


def test_hreflang_clusters_plan_is_row_local(spark):
    df = hreflang_clusters(
        _pages(spark, [_page("https://x.org/1", "")])
    )
    plan = audit.physical_plan(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ------------------------------------------------- corpus_job wiring
def test_corpus_job_honor_meta(spark, tmp_path):
    """--honor-meta: noindex pages and canonical aliases drop BEFORE
    extraction, each with its own fixed-schema funnel count."""
    from jobs.corpus_job import build_corpus

    t = "the children were playing in the garden near the river all afternoon"

    def pg(head, text):
        return (
            f"<html><head>{head}</head><body><p>{text}</p></body></html>"
        ).encode()

    canon = '<link rel="canonical" href="https://a.org/main">'
    rows = [
        ("https://a.org/main", 1, pg(canon, t + " original")),
        ("https://a.org/alias", 2, pg(canon, t + " mirrored copy")),
        (
            "https://a.org/hidden",
            3,
            pg('<meta name="robots" content="noindex">', t + " hidden"),
        ),
        ("https://b.org/solo", 4, pg("", t + " unrelated page")),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "url string, warc_ts long, html binary"
    ).write.parquet(src)
    out = str(tmp_path / "corpus")
    funnel = build_corpus(
        spark, src, out, min_quality=0.0, min_tokens=0, honor_meta=True
    )
    assert funnel["dropped_noindex"] == 1
    assert funnel["dropped_canonical_alias"] == 1
    assert funnel["pages"] == 2
    assert funnel["corpus_docs"] == 2
    kept = {r.url for r in spark.read.parquet(out).select("url").collect()}
    assert kept == {"https://a.org/main", "https://b.org/solo"}

    # combined with the gates AFTER the canonical window: their drops
    # must not be counted as aliases, and the funnel reconciles to the
    # input row count
    rows += [
        (
            "https://c.org/optout",
            5,
            pg('<meta name="robots" content="noai">', t + " opted out"),
        ),
        (
            "https://c.org/gone",
            6,
            pg("<title>404 Not Found</title>", "page not found"),
        ),
    ]
    src2 = str(tmp_path / "pages2")
    spark.createDataFrame(
        rows, "url string, warc_ts long, html binary"
    ).write.parquet(src2)
    funnel = build_corpus(
        spark, src2, str(tmp_path / "corpus2"), min_quality=0.0,
        min_tokens=0, honor_meta=True, honor_noai=True, drop_soft404=True,
    )
    pre = ("dropped_noindex", "dropped_canonical_alias", "dropped_noai",
           "dropped_soft404")
    assert [funnel[k] for k in pre] == [1, 1, 1, 1]
    assert funnel["pages"] == 2
    assert sum(funnel[k] for k in pre) + funnel["pages"] == len(rows)


def test_corpus_job_honor_meta_off_sentinels(spark, tmp_path):
    from jobs.corpus_job import build_corpus

    t = "she opened the window and watched the quiet street below the house"
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        [("https://a.org/p", 1,
          f"<html><body><p>{t}</p></body></html>".encode())],
        "url string, warc_ts long, html binary",
    ).write.parquet(src)
    funnel = build_corpus(
        spark, src, str(tmp_path / "corpus"),
        min_quality=0.0, min_tokens=0,
    )
    assert funnel["dropped_noindex"] == -1
    assert funnel["dropped_canonical_alias"] == -1


# ---------------------------------------------------------- page_meta
from ocrd_segment_spark.operators.headmeta import page_meta  # noqa: E402


def test_page_meta_title_normalization_and_orders(spark):
    rows = [
        _page(
            "https://a.org/1",
            "<title>  My\n   Page  Title </title>"
            '<meta name="description" content="first desc">'
            '<META CONTENT="og t" PROPERTY="og:title">'
            '<meta property="og:description" content=" og d ">',
        ),
        _page("https://a.org/2", "<title></title>"),  # empty -> NULL
        _page("https://a.org/3", ""),  # absent -> NULL
    ]
    got = {
        r.url: (r.title, r.meta_description, r.og_title, r.og_description)
        for r in page_meta(_pages(spark, rows)).collect()
    }
    assert got == {
        "https://a.org/1": (
            "My Page Title",
            "first desc",
            "og t",
            " og d ",  # attribute values stay verbatim
        ),
        "https://a.org/2": (None, None, None, None),
        "https://a.org/3": (None, None, None, None),
    }


def test_page_meta_first_match_wins_and_scan_stage(spark):
    rows = [
        _page(
            "https://a.org/1",
            "<title>one</title><title>two</title>"
            '<meta name="description" content="d1">'
            '<meta name="description" content="d2">',
        )
    ]
    df = page_meta(_pages(spark, rows))
    [r] = df.collect()
    assert (r.title, r.meta_description) == ("one", "d1")
    plan = audit.physical_plan(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_job_pack_sequences(spark, tmp_path):
    """--pack-sequences writes the packed manifest over the written
    corpus; slices tile full sequences and the funnel counts them."""
    from jobs.corpus_job import build_corpus

    t = "the children were playing in the garden near the river all afternoon"
    rows = [
        (f"https://a.org/{i}", 1,
         f"<html><body><p>{t} page {i}</p></body></html>".encode())
        for i in range(6)
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "url string, warc_ts long, html binary"
    ).write.parquet(src)
    out = str(tmp_path / "corpus")
    funnel = build_corpus(
        spark, src, out, min_quality=0.0, min_tokens=0,
        pack_seq_tokens=20,
    )
    packed = spark.read.parquet(out + "_packed").collect()
    assert funnel["sequences_packed"] == max(r.seq_id for r in packed) + 1
    # the manifest covers every corpus token exactly once
    total = sum(r.doc_to - r.doc_from for r in packed)
    assert total == sum(r.n_tokens for r in packed if r.doc_from == 0)
    # every sequence except the last is exactly full
    by_seq = {}
    for r in packed:
        by_seq.setdefault(r.seq_id, 0)
        by_seq[r.seq_id] += r.doc_to - r.doc_from
    last = max(by_seq)
    assert all(v == 20 for s, v in by_seq.items() if s != last)
    assert 0 < by_seq[last] <= 20


def test_malformed_page_url_resolves_null_not_junk(spark):
    """A page whose own url has no scheme/host must resolve rooted and
    protocol-relative canonicals to NULL — never ':///p/x' junk that
    aliases unrelated pages into one collapse group."""
    rows = [
        _page("not-a-url", '<link rel="canonical" href="/p/x">'),
        _page("also-bad", '<link rel="canonical" href="//h.org/p/x">'),
    ]
    got = {r.url: r.canonical_url
           for r in head_meta(_pages(spark, rows)).collect()}
    assert got == {"not-a-url": None, "also-bad": None}


def test_canonical_representatives_preserves_input_columns(spark):
    from ocrd_segment_spark.operators.headmeta import (
        canonical_representatives,
    )

    rows = [_page("https://a.org/1", "")]
    df = _pages(spark, rows)
    out = canonical_representatives(df)
    assert out.columns == df.columns


# ---------------------------------------------------------------------------
# JSON-LD structured data
# ---------------------------------------------------------------------------


def _jsonld_pages(spark, rows):
    return spark.createDataFrame(rows, "url string, html binary")


def test_jsonld_blocks_and_types(spark):
    from ocrd_segment_spark.operators.headmeta import jsonld_types

    html = (
        b'<html><head>'
        b'<SCRIPT defer type="application/ld+json">'
        b'{"@type":"Article","name":"First"}</SCRIPT>'
        b'<script type="application/ld+json">'
        b'{"@type":["Product","Offer"],"name":7}</script>'
        b'<script type="application/ld+json">not json {</script>'
        b'<script type="text/javascript">var x=1;</script>'
        b"</head></html>"
    )
    out = sorted(
        jsonld_types(_jsonld_pages(spark, [("u", html)])).collect(),
        key=lambda r: r["block_idx"],
    )
    assert len(out) == 3  # javascript block never matches
    assert (out[0]["jsonld_type"], out[0]["name"]) == ("Article", "First")
    # array @type and numeric name stringify as JSON text
    assert out[1]["jsonld_type"] == '["Product","Offer"]'
    assert out[1]["name"] == "7"
    # malformed JSON keeps the row with NULLs (countable failure)
    assert out[2]["jsonld_type"] is None and out[2]["name"] is None


def test_jsonld_no_blocks_no_rows(spark):
    from ocrd_segment_spark.operators.headmeta import jsonld_types

    html = b"<html><head><script>var a;</script></head></html>"
    assert jsonld_types(_jsonld_pages(spark, [("u", html)])).count() == 0


def test_jsonld_payload_truncates_at_lt(spark):
    from ocrd_segment_spark.operators.headmeta import jsonld_types

    # frozen rule: payload ends at the first '<' — embedded markup in
    # a JSON string truncates the block (documented, not silent: the
    # truncated payload fails json parsing → NULL columns, row kept)
    html = (
        b'<script type="application/ld+json">'
        b'{"@type":"Article","name":"a <b> tag"}</script>'
    )
    out = jsonld_types(_jsonld_pages(spark, [("u", html)])).collect()
    assert len(out) == 1
    assert out[0]["jsonld_type"] is None


def test_feed_links_autodiscovery(spark):
    from ocrd_segment_spark.operators.headmeta import feed_links

    html = (
        '<html><head>'
        '<link rel="alternate" type="application/rss+xml" href="https://a.org/feed.xml">'
        '<link rel="alternate" type="application/rss+xml" href="https://a.org/feed.xml">'
        '<link TyPe="application/atom+xml" rel="alternate" href="/atom.xml">'
        '<link rel="alternate" type="application/rss+xml" href="//feeds.b.net/f">'
        '<link rel="alternate" type="application/rss+xml" href="mailto:x@y">'
        '<link rel="stylesheet" href="/s.css">'
        '</head><body>x</body></html>'
    )
    df = spark.createDataFrame(
        [("https://a.org/page", bytearray(html.encode()))],
        "url string, html binary",
    )
    got = {(r["feed_url"], r["kind"]) for r in feed_links(df).collect()}
    assert got == {
        # duplicate declaration collapsed per page
        ("https://a.org/feed.xml", "rss"),
        # rooted href rebased on the page origin; attr name case-free
        ("https://a.org/atom.xml", "atom"),
        # protocol-relative gains the page scheme; mailto dropped
        ("https://feeds.b.net/f", "rss"),
    }


def test_publish_date_precedence_and_trim(spark):
    from ocrd_segment_spark.operators.headmeta import with_publish_date

    rows = [
        (0, '<meta property="article:published_time" content="2026-01-15T08:30:00Z">'),
        # reversed attribute order, padded value
        (1, '<meta content=" 2025-12-01 " property="article:published_time">'),
        # meta beats time
        (2, '<meta property="article:published_time" content="2026-02-02">'
            '<time datetime="2020-01-01">old</time>'),
        (3, '<TIME class="d" DATETIME="2024-07-04T12:00:00">x</TIME>'),
        (4, '<script type="application/ld+json">{"datePublished" :\n"2023-11-11"}</script>'),
        # empty meta content falls through to jsonld
        (5, '<meta property="article:published_time" content="">'
            '<script type="application/ld+json">{"datePublished":"2022-03-03"}</script>'),
        (6, "<title>plain</title>"),
    ]
    df = spark.createDataFrame(
        [(i, f"<html><head>{h}</head></html>".encode()) for i, h in rows],
        "doc_id int, html binary",
    )
    got = {
        r.doc_id: (r.published, r.published_source)
        for r in with_publish_date(df).collect()
    }
    assert got[0] == ("2026-01-15T08:30:00Z", "meta")
    assert got[1] == ("2025-12-01", "meta")
    assert got[2] == ("2026-02-02", "meta")
    assert got[3] == ("2024-07-04T12:00:00", "time")
    assert got[4] == ("2023-11-11", "jsonld")
    assert got[5] == ("2022-03-03", "jsonld")
    assert got[6] == (None, None)


def test_ai_optout_token_match(spark):
    from ocrd_segment_spark.operators.headmeta import with_ai_optout

    rows = [
        (0, '<meta name="robots" content="noai">'),
        (1, '<meta name="robots" content="noindex, noai, noimageai">'),
        (2, '<meta name="robots" content="paranoai,nofollow">'),
        (3, '<META content="NoAI" name="robots">'),
        (4, "<title>none</title>"),
        (5, '<meta name="robots" content="index noimageai">'),
    ]
    df = spark.createDataFrame(
        [(i, f"<html><head>{h}</head></html>", f"https://x/{i}")
         for i, h in rows],
        "doc_id int, html string, url string",
    )
    got = {
        r.doc_id: (r.ai_optout, r.image_ai_optout)
        for r in with_ai_optout(df).collect()
    }
    assert got == {
        0: (True, False),
        1: (True, True),
        2: (False, False),  # 'paranoai' is not the token
        3: (True, False),   # reversed attrs, mixed case
        4: (False, False),  # no robots meta
        5: (False, True),
    }


def test_noai_newline_separated_token(spark):
    # newline-separated robots tokens are legal attribute content and
    # must still be honored (review-pass compliance finding)
    from ocrd_segment_spark.operators.headmeta import with_ai_optout

    df = spark.createDataFrame(
        [(0, '<html><head><meta name="robots" content="noindex,\nnoai">'
             "</head></html>")],
        "doc_id int, html string",
    )
    assert with_ai_optout(df).collect()[0].ai_optout is True
