"""Unit tests for the frozen per-document kernel (no Spark).

Covers the plausibilize decision table (reference repair.py:310-365
re-derived for 1-D intervals), validity/consistency clamps, gap-merge
simplify, spread, and end-to-end extract_document invariants
(SURVEY.md §5.2 items 2 and 4)."""

import numpy as np
import pytest

from ocrd_segment_spark.config import ExtractParams
from ocrd_segment_spark.kernel import intervals as iv
from ocrd_segment_spark.kernel.extract import extract_document
from ocrd_segment_spark.kernel.htmlparse import parse_html


# ---------------------------------------------------------------- intervals
def test_ensure_valid_clamps_and_flags():
    s, e, ok = iv.ensure_valid([-5, 10, 30, 7], [3, 5, 200, 7], doc_len=100)
    assert s.tolist() == [0, 5, 30, 7]
    assert e.tolist() == [3, 10, 100, 7]  # reversed span reordered
    assert ok.tolist() == [True, True, True, False]  # zero-length invalid


def test_ensure_consistent_clips_child_to_parent():
    s, e = iv.ensure_consistent([5, 0], [50, 100], [10, 20], [40, 80])
    assert s.tolist() == [10, 20] and e.tolist() == [40, 80]


def test_iou_and_intersection():
    assert iv.intersection_len(0, 10, 5, 15) == 5
    assert iv.iou(0, 10, 5, 15) == pytest.approx(5 / 15)
    assert iv.iou(0, 10, 20, 30) == 0.0


def test_plausibilize_equal_deletes_shallower():
    # wrapper (depth 1) and child (depth 2) with identical spans
    act, s, e = iv.plausibilize(
        np.array([0, 0]), np.array([10, 10]), depths=np.array([1, 2])
    )
    assert act.tolist() == [iv.DELETE, iv.KEEP]


def test_plausibilize_containment_deletes_contained():
    act, s, e = iv.plausibilize(
        np.array([0, 2]), np.array([20, 8]), depths=np.array([1, 2])
    )
    assert act.tolist() == [iv.KEEP, iv.DELETE]


def test_plausibilize_merge_on_high_overlap():
    # overlap 9 of smaller len 10 → frac .9 is NOT > .9 but midpoint of
    # smaller (5) lies inside larger → merge by centroid rule (G14)
    act, s, e = iv.plausibilize(
        np.array([0, 1]), np.array([10, 30]), depths=np.array([1, 1])
    )
    assert act.tolist() == [iv.MERGE_INTO, iv.KEEP]
    assert s[1] == 0 and e[1] == 30  # larger absorbed the extent


def test_plausibilize_split_on_low_overlap():
    # overlap 2 of smaller len 10, midpoint outside → split smaller
    act, s, e = iv.plausibilize(
        np.array([0, 8]), np.array([10, 40]), depths=np.array([1, 1])
    )
    assert act.tolist() == [iv.KEEP, iv.KEEP]
    assert (s[0], e[0]) == (0, 8)  # clipped at the other's start
    assert (s[1], e[1]) == (8, 40)


def test_plausibilize_disjoint_untouched():
    act, s, e = iv.plausibilize(
        np.array([0, 20]), np.array([10, 30]), depths=np.array([1, 1])
    )
    assert act.tolist() == [iv.KEEP, iv.KEEP]


def test_simplify_gap_merge():
    group, s, e = iv.simplify_gap_merge([0, 12, 30], [10, 20, 40], tolerance=2)
    assert group == [0, 0, 1]
    assert s == [0, 30] and e == [20, 40]


def test_spread_bounded_by_gap_midpoint():
    s, e = iv.spread([5, 20], [10, 30], distance=100, doc_len=50)
    # gap [10,20) midpoint 15: each side grows to it, never past
    assert s == [0, 15]
    assert e == [15, 50]


# ---------------------------------------------------------------- htmlparse
def test_parse_recovers_unclosed_p():
    page = parse_html("<body><p>one<p>two</p></body>")
    # the second <p> closes the first: two sibling candidates at depth 2
    hulls = [(c[4], c[1], page.tokens[c[2]:c[3]]) for c in page.candidates]
    assert hulls == [("p", 2, ["one"]), ("p", 2, ["two"])]


def test_parse_rejects_non_utf8():
    assert parse_html(b"<p>ok</p>\xff\xfe\x80") is None


def test_parse_ignores_stray_end_tags():
    assert parse_html("</div><p>x</p></span>") is not None


# ----------------------------------------------------------- extract_document
def _regions_invariants(text, regions):
    prev_end = None
    for r in regions:
        assert 0 <= r["start"] <= r["end"] <= len(text)
        if prev_end is not None:
            assert r["start"] >= prev_end  # non-overlapping, ordered
        prev_end = r["end"]


def test_extract_clean_article():
    html = (
        "<html><body><header><h1>Site</h1><nav><a href='/'>home</a></nav></header>"
        "<main><h2>Title words</h2><p>alpha beta gamma delta</p>"
        "<p>epsilon zeta eta</p></main>"
        "<footer><p>copyright notice</p></footer></body></html>"
    )
    text, regions, m = extract_document(html)
    assert text == "Title words\nalpha beta gamma delta\nepsilon zeta eta"
    assert [r["rtype"] for r in regions] == ["heading", "paragraph", "paragraph"]
    assert m["parse_failed"] is False
    _regions_invariants(text, regions)
    # spans slice back to their own text
    assert text[regions[0]["start"] : regions[0]["end"]] == "Title words"


def test_extract_drops_link_dense_blocks():
    html = (
        "<body><main><p><a href='/a'>one two three</a> <a href='/b'>four five</a></p>"
        "<p>real content words here</p></main></body>"
    )
    text, regions, _ = extract_document(html)
    assert text == "real content words here"
    assert len(regions) == 1


def test_extract_mixed_container_containment_dedup():
    html = "<body><main><div>direct words here <p>nested paragraph words</p></div></main></body>"
    text, regions, m = extract_document(html)
    # div (mixed) contains p → p deleted, div survives covering both
    assert text == "direct words here nested paragraph words"
    assert len(regions) == 1 and regions[0]["subtype"] == "div"
    assert m["n_candidates"] == 2 and m["n_kept"] == 1


def test_extract_whitespace_shrink():
    html = "<body><p>   padded     words\n\n\t inside   </p></body>"
    text, regions, _ = extract_document(html)
    assert text == "padded words inside"  # token hull = shrink analog


def test_extract_parse_failure_counted():
    text, regions, m = extract_document(b"\xff\xfe<not utf8>")
    assert text == "" and regions == [] and m["parse_failed"] is True


def test_extract_deterministic_and_idempotent_inputs():
    html = "<body><main><p>a b c d e</p><div>x y <p>z w v</p></div></main></body>"
    r1 = extract_document(html)
    r2 = extract_document(html)
    assert r1 == r2


def test_extract_simplify_and_spread_params():
    html = "<body><p>aa bb</p><p>cc dd</p></body>"
    text0, reg0, _ = extract_document(html)
    assert len(reg0) == 2
    text1, reg1, _ = extract_document(
        html, ExtractParams(simplify_gap_tolerance=5)
    )
    assert len(reg1) == 1  # gap of 1 char merged
    assert text1 == "aa bb cc dd"


def test_extract_script_style_excluded():
    html = "<body><script>var x=1;</script><style>p{}</style><p>visible words</p></body>"
    text, _, _ = extract_document(html)
    assert text == "visible words"


def test_deeply_nested_html_no_recursion_limit():
    # 5000-deep nesting would blow Python's recursion limit on a
    # recursive walker; ours is an explicit stack
    html = "<body>" + "<div>" * 5000 + "words here inside" + "</div>" * 5000 + "</body>"
    text, regions, m = extract_document(html)
    assert text == "words here inside"
    assert m["parse_failed"] is False


def test_huge_flat_page():
    html = "<body>" + "".join(f"<p>para {i} words</p>" for i in range(3000)) + "</body>"
    text, regions, _ = extract_document(html)
    assert len(regions) == 3000
    assert text.startswith("para 0 words\npara 1 words")


def _time_ratio(run, inputs) -> list[float]:
    """time(inputs[1]) / time(inputs[0]) per attempt. Each attempt times
    both inputs interleaved, best of 3, with the collector paused (a full
    collection walks the whole test process's heap, not the page);
    outside load on a shared machine can still skew one attempt, so up
    to three attempts run and the caller checks the best."""
    import gc
    import time

    ratios = []
    gc.disable()
    try:
        for _ in range(3):
            best = [float("inf")] * 2
            for _ in range(3):
                for k, x in enumerate(inputs):
                    t0 = time.perf_counter()
                    run(x)
                    best[k] = min(best[k], time.perf_counter() - t0)
            ratios.append(best[1] / best[0])
            if ratios[-1] <= 5:
                break
    finally:
        gc.enable()
    return ratios


@pytest.mark.parametrize(
    "wrap, item",
    [("<main>{}</main>", "<p>para {} words</p>"), ("<ul>{}</ul>", "<li>item {} words</li>")],
    ids=["p", "li"],
)
def test_extract_scales_linearly_in_candidates(wrap, item):
    """Flat pages at n and 4n candidate regions: the time ratio stays
    near 4 (a quadratic pass gives 16)."""
    pages = [
        "<body>" + wrap.format("".join(item.format(i) for i in range(n))) + "</body>"
        for n in (1000, 4000)
    ]
    ratios = _time_ratio(extract_document, pages)
    assert min(ratios) <= 5, ratios


_ALL_PARAMS = ExtractParams(
    media_regions=True, style_spans=True, css_styles=True,
    reading_direction=True, preserve_pre=True,
    simplify_gap_tolerance=3, spread_chars=2,
)


@pytest.mark.parametrize(
    "params", [ExtractParams(), _ALL_PARAMS], ids=["default", "all_params"]
)
def test_extract_scales_linearly_in_depth(params):
    """Nesting depth: n and 4n levels of <div><p>w w</p> inside
    <article> (every level holds a candidate). Ancestor facts ride on
    the walker's stack, so the ratio stays near 4; a per-region climb
    of the ancestor chain made it 16."""
    pages = [
        "<body><article>" + '<div dir="rtl" style="font-weight: bold"><p>w w <img src=x></p>' * n
        + "</article></body>"
        for n in (2000, 8000)
    ]
    ratios = _time_ratio(lambda html: extract_document(html, params), pages)
    assert min(ratios) <= 5, ratios


def test_unmatched_end_tags_scale_linearly():
    """n open <div> followed by n </span> that match nothing: each
    unmatched end tag is O(1) through the walker's per-tag count of
    open elements, not a scan of the open stack."""
    from ocrd_segment_spark.kernel.htmlparse_fast import parse_html_fast

    pages = ["<body>" + "<div>" * n + "</span>" * n + "</body>" for n in (2000, 8000)]
    ratios = _time_ratio(parse_html_fast, pages)
    assert min(ratios) <= 5, ratios
    # the unmatched tags change nothing: same page as without them
    assert extract_document(pages[0]) == extract_document(
        "<body>" + "<div>" * 2000 + "</body>"
    )


def test_phase_timer_hooks_see_one_call_per_document():
    """The benchmark's kernel timers (perfbench/kernel_trace.py) rebind
    ``extract.parse_html`` and ``intervals.plausibilize`` on their
    modules. extract_document must look both names up at call time and
    call each exactly once per document that has candidates (parse
    also once for a document without)."""
    from ocrd_segment_spark.fixtures import gen_pages
    from ocrd_segment_spark.kernel import extract as kx

    calls = {"parse": 0, "plausibilize": 0}

    def counting(name, fn):
        def wrapper(*a, **kw):
            calls[name] += 1
            return fn(*a, **kw)

        return wrapper

    parse, plaus = kx.parse_html, iv.plausibilize
    kx.parse_html = counting("parse", parse)
    iv.plausibilize = counting("plausibilize", plaus)
    try:
        rows = gen_pages(300, seed=3)
        with_cands = 0
        for r in rows:
            before = dict(calls)
            _, _, m = extract_document(r["html"])
            assert calls["parse"] == before["parse"] + 1
            expected = 1 if m["n_candidates"] else 0
            assert calls["plausibilize"] == before["plausibilize"] + expected
            with_cands += expected
    finally:
        kx.parse_html, iv.plausibilize = parse, plaus
    assert with_cands > 250
    assert kx.parse_html is parse and iv.plausibilize is plaus


def test_comments_cdata_doctype_ignored():
    html = ("<!DOCTYPE html><html><body><!-- comment words -->"
            "<p>real words</p><![CDATA[cdata words]]></body></html>")
    text, _, _ = extract_document(html)
    assert text == "real words"


def test_struct_fixture_rtype_variety():
    from ocrd_segment_spark.fixtures import gen_pages
    from ocrd_segment_spark.oracle import extract_corpus
    structs = [r for r in gen_pages(40) if "/struct/" in r["url"]]
    assert structs
    out = extract_corpus(structs)
    rtypes = {sp["rtype"] for r in out for sp in r["region_spans"]}
    assert {"paragraph", "list", "table", "quote", "pre"} <= rtypes


def test_unicode_fixture_byte_identity_material():
    """Multibyte scripts survive the kernel: spans are codepoint
    offsets, extracted bytes round-trip, entities decode."""
    from ocrd_segment_spark.fixtures import gen_pages
    u = [r for r in gen_pages(90) if "/unicode/" in r["url"]][0]
    text, regions, m = extract_document(u["html"])
    assert not m["parse_failed"]
    assert "äß" in text and "中文" in text  # entity decoding
    for r in regions:
        assert text[r["start"]:r["end"]]  # codepoint slicing valid
    assert text.encode("utf-8").decode("utf-8") == text


def test_parent_id_referential_integrity_and_region_antichain():
    """Kernel 1.2.0: parent_id resolves against KEPT candidates only,
    so every non-empty parent_id references an emitted region_id. At
    region level kept spans are disjoint and a DOM ancestor's hull
    contains its descendants', so a text region's parent_id is '' by
    construction — real parent links live on media spans and at the
    line/word sub-levels."""
    from ocrd_segment_spark.fixtures import gen_pages

    for params in (ExtractParams(), ExtractParams(media_regions=True)):
        for r in gen_pages(300, seed=11):
            text, regions, m = extract_document(r["html"], params)
            ids = {sp["region_id"] for sp in regions}
            media = [sp for sp in regions if sp["region_id"].startswith("m")]
            for sp in media:
                assert sp["parent_id"] == "" or sp["parent_id"] in ids
            text_regions = [sp for sp in regions if sp not in media]
            assert all(sp["parent_id"] == "" for sp in text_regions)
            # antichain: kept spans pairwise disjoint
            spans = sorted((sp["start"], sp["end"]) for sp in text_regions)
            for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
                assert e1 <= s2


# --------------------------------------------------- kernel 1.3/1.4 combos
def test_media_and_style_params_compose():
    """media_regions + style_spans + simplify + spread together: media
    spans stay zero-length and positioned; style runs stay inside
    their regions; text is byte-identical to default params."""
    from ocrd_segment_spark.config import ExtractParams
    from ocrd_segment_spark.kernel.extract import extract_document

    html = (
        b"<html><body><h1>One <b>bold</b> title</h1>"
        b"<figure><img src='/x.png'/></figure>"
        b"<p>first <i>styled run</i> paragraph</p>"
        b"<p>second paragraph of <code>mono words</code> here</p>"
        b"<hr/></body></html>"
    )
    base_text, _, _ = extract_document(
        html, ExtractParams(simplify_gap_tolerance=2, spread_chars=1)
    )
    P = ExtractParams(
        media_regions=True, style_spans=True,
        simplify_gap_tolerance=2, spread_chars=1,
    )
    text, regions, metrics = extract_document(html, P)
    # media/style are ADDITIVE: same simplify/spread params with the
    # flags on produce byte-identical text
    assert text == base_text
    media = [r for r in regions if r["region_id"].startswith("m")]
    assert [(m["rtype"], m["subtype"]) for m in media] == [
        ("image", "img"), ("separator", "hr")
    ]
    assert all(m["start"] == m["end"] and 0 <= m["start"] <= len(text) for m in media)
    text_regions = [r for r in regions if not r["region_id"].startswith("m")]
    n_styled = 0
    for r in text_regions:
        runs = r["style_runs"]
        prev_end = r["start"]
        for run in runs:
            assert r["start"] <= run["start"] < run["end"] <= r["end"]
            assert run["start"] >= prev_end  # sorted, non-overlapping
            prev_end = run["end"]
            flags = [v for k, v in run.items() if k not in ("start", "end")]
            assert any(flags)  # zero-mask runs are never emitted
            n_styled += 1
    assert n_styled >= 2  # bold + italic + mono runs survive the combos
    # styled slices carry the styled words
    joined = " ".join(
        text[run["start"]:run["end"]]
        for r in text_regions for run in r["style_runs"]
    )
    assert "bold" in joined and "styled run" in joined and "mono words" in joined


def test_style_runs_survive_gap_merge():
    """Gap-merge absorbs an interior dropped candidate; style runs of
    the MERGED region still index the output frame correctly."""
    from ocrd_segment_spark.config import ExtractParams
    from ocrd_segment_spark.kernel.extract import extract_document

    html = (
        b"<html><body>"
        b"<p>alpha <b>beta</b> gamma</p>"
        b"<p>delta <b>epsilon</b> zeta</p>"
        b"</body></html>"
    )
    P = ExtractParams(style_spans=True, simplify_gap_tolerance=10)
    text, regions, _ = extract_document(html, P)
    assert len(regions) == 1  # merged
    bold = [text[r["start"]:r["end"]] for r in regions[0]["style_runs"] if r["bold"]]
    assert bold == ["beta", "epsilon"]


def test_reading_direction_inheritance():
    """dir/rtl orientation analog (kernel 1.5.0): nearest VALID
    dir= ancestor wins; invalid values are skipped; absent -> None;
    media spans resolve through their own node; default params emit
    no 'dir' key at all (digest safety)."""
    from ocrd_segment_spark.config import ExtractParams
    from ocrd_segment_spark.kernel.extract import extract_document

    html = (
        b'<html><body dir="rtl"><p>first paragraph words</p>'
        b'<p dir=" LTR ">second paragraph words</p>'
        b'<p dir="bogus">third paragraph words</p>'
        b'<div dir="auto"><p>fourth paragraph words<img src="/x"/></p></div>'
        b"</body></html>"
    )
    _, regions, _ = extract_document(
        html, ExtractParams(reading_direction=True, media_regions=True)
    )
    by_order = {r["order"]: r for r in regions if r["rtype"] != "image"}
    assert by_order[0]["dir"] == "rtl"
    assert by_order[1]["dir"] == "ltr"   # own attr, trimmed+lowercased
    assert by_order[2]["dir"] == "rtl"   # invalid skipped -> body
    assert by_order[3]["dir"] == "auto"  # div ancestor
    img = next(r for r in regions if r["rtype"] == "image")
    assert img["dir"] == "auto"
    # no dir attribute anywhere -> None
    _, regs, _ = extract_document(
        b"<html><body><p>plain words here</p></body></html>",
        ExtractParams(reading_direction=True),
    )
    assert regs[0]["dir"] is None
    # default params: key absent entirely
    _, regs, _ = extract_document(html)
    assert all("dir" not in r for r in regs)


# ------------------------------------------------------------ preserve_pre
def test_preserve_pre_verbatim_whitespace():
    """params.preserve_pre (kernel 1.6.0): the <pre> subtree is ONE
    verbatim token — indentation, blank lines and trailing spaces
    survive; \r\n/\r normalize to \n; exactly one leading newline
    drops (HTML spec); inline element boundaries add no spaces; the
    span slices the verbatim text exactly."""
    html = (
        b"<html><body><h1>title here</h1><pre>\r\ndef f(x):\r"
        b"    return x  <span>+ 1</span>\n\n</pre>"
        b"<p>some  para   text</p></body></html>"
    )
    text, regions, _ = extract_document(html, ExtractParams(preserve_pre=True))
    pre = next(r for r in regions if r["rtype"] == "pre")
    verbatim = "def f(x):\n    return x  + 1\n\n"
    assert text == "title here\n" + verbatim + "\nsome para text"
    assert text[pre["start"]:pre["end"]] == verbatim
    # default params: frozen collapse-and-join semantics untouched
    text0, regions0, _ = extract_document(html)
    assert text0 == "title here\ndef f(x): return x + 1\nsome para text"


def test_preserve_pre_skips_nontext_and_whitespace_only():
    """script/style subtrees inside <pre> contribute nothing; a
    whitespace-only <pre> emits no token and no region; descendant
    elements inside a preserved <pre> never become candidates."""
    html = (
        b"<html><body><pre>a <script>x=1</script>b</pre>"
        b"<pre>   \n\t  </pre>"
        b"<pre><p>not a region</p></pre>"
        b"<p>plain paragraph words</p></body></html>"
    )
    text, regions, _ = extract_document(html, ExtractParams(preserve_pre=True))
    rtypes = [r["rtype"] for r in regions]
    assert rtypes.count("pre") == 2  # whitespace-only pre dropped
    assert "paragraph" in rtypes
    # no <p>-subtype region from inside the pre
    assert sum(1 for r in regions if r["subtype"] == "p") == 1
    assert text.startswith("a b\n")  # no space injected by <script> skip
    assert "not a region" in text    # text kept, verbatim, as the pre region


def test_preserve_pre_link_density_and_styles():
    """A <pre> fully inside <a> counts as linked (density 1.0 ->
    dropped at default max_link_density); style runs carry ONE run
    styled by the state at <pre> entry (monospace bit)."""
    linked = (
        b'<html><body><a href="/x"><pre>only linked code</pre></a>'
        b"<p>unlinked paragraph words</p></body></html>"
    )
    text, regions, _ = extract_document(linked, ExtractParams(preserve_pre=True))
    assert all(r["rtype"] != "pre" for r in regions)  # density-dropped
    styled = b"<html><body><b><pre>x = <i>1</i>\n</pre></b></body></html>"
    _, regs, _ = extract_document(
        styled, ExtractParams(preserve_pre=True, style_spans=True)
    )
    pre = next(r for r in regs if r["rtype"] == "pre")
    assert len(pre["style_runs"]) == 1
    run = pre["style_runs"][0]
    assert run["monospace"] and run["bold"] and not run["italic"]


def test_preserve_pre_stdlib_fast_parser_parity():
    """Both parsers feed the walker the same verbatim text events —
    extraction with preserve_pre is parser-independent."""
    from ocrd_segment_spark.kernel.htmlparse_fast import parse_html_fast

    html = (
        "<html><body><pre>\nfor i in range(3):\n\tprint(i)  \n</pre>"
        "<pre>a&amp;b <em>c</em>\nd</pre><p>tail words</p></body></html>"
    )
    P = ExtractParams(preserve_pre=True)
    toks_a = parse_html(html, P).tokens
    toks_b = parse_html_fast(html, P).tokens
    assert toks_a == toks_b
    assert toks_a[0] == "for i in range(3):\n\tprint(i)  \n"
    assert toks_a[1] == "a&b c\nd"
