"""Fast-parser guarantees.

The regex tokenizer (htmlparse_fast) is the kernel's frozen parser;
the stdlib ``html.parser`` event source (htmlparse) stays as the
cross-check. Both feed the same walker (kernel/walk.py). On realistic
HTML the two must produce identical walked pages and extraction
output; on adversarial input the fast parser must satisfy the kernel
invariants (stdlib agreement is NOT claimed there — the stdlib parser
emits degenerate tag names like 'b"<' for unterminated tags at EOF)."""

from hypothesis import given, settings, strategies as st

from ocrd_segment_spark.config import ExtractParams
from ocrd_segment_spark.fixtures import gen_pages
from ocrd_segment_spark.kernel import extract as X
from ocrd_segment_spark.kernel.extract import extract_document
from ocrd_segment_spark.kernel.htmlparse import parse_html as parse_stdlib
from ocrd_segment_spark.kernel.htmlparse_fast import parse_html_fast

# every gated surface on: the walked page then carries styles, dir,
# media and verbatim <pre> state for the parsers to agree on
_ALL = ExtractParams(
    media_regions=True, style_spans=True, css_styles=True,
    reading_direction=True, preserve_pre=True,
)


def test_equivalent_to_stdlib_on_fixture_corpus():
    """Same extraction output from both sources, and — with every gated
    surface on — the same walked page: tokens, offsets, link sums,
    style states, candidates with their ancestor facts, and media."""
    rows = gen_pages(2000, seed=7)
    orig = X.parse_html
    mismatches = []
    try:
        for r in rows:
            X.parse_html = parse_stdlib
            a = extract_document(r["html"])
            X.parse_html = parse_html_fast
            b = extract_document(r["html"])
            if a != b or parse_stdlib(r["html"], _ALL) != parse_html_fast(r["html"], _ALL):
                mismatches.append(r["url"])
    finally:
        X.parse_html = orig
    assert not mismatches, mismatches[:5]


_frag = st.text(alphabet="abc <>/&;!#x\"'=-p.liv\nh1", min_size=0, max_size=60)
_tags = st.sampled_from(
    ["<p>", "</p>", "<div>", "</div>", "<li>", "<a href='x'>", "</a>",
     "<script>", "</script>", "<!-- c -->", "<br/>", "&amp;", "&#65;",
     "&nosuch;", "<![CDATA[x]]>", "<!DOCTYPE html>", "</bogus !>", "<p",
     "<>", "< p>", "<p/>", "<P >", "</ p>", "<!", "<b\"",
     "<div href = foo/>", "<div x = />", "<p disabled/>", "<a x='q'/>",
     "<div title=don't/>", "<div x= 'q'/>"]
)
_doc = st.lists(st.one_of(_frag, _tags), min_size=0, max_size=25).map("".join)


@given(_doc)
@settings(max_examples=300, deadline=None)
def test_fast_parser_invariants_on_adversarial_input(body):
    html = f"<html><body>{body}</body></html>"
    tree = parse_html_fast(html)
    assert tree is not None
    text, regions, m = extract_document(html)
    assert extract_document(html) == (text, regions, m)  # deterministic
    for r in regions:
        assert 0 <= r["start"] < r["end"] <= len(text)


def test_self_closing_block_tag_auto_closes_p_in_both_parsers():
    """Frozen rule: '<p>a<hr/>b' ends the paragraph exactly like
    '<p>a<hr>b' (HTML5 ignores the '/' on start tags). Round-1 advice
    found the two parsers diverged here because fixtures lacked
    self-closing block tags — this fixture pins the rule."""
    for html in ("<body><p>a<hr/>b</p></body>", "<body><p>a<hr>b</p></body>"):
        pages = [parse(html, _ALL) for parse in (parse_stdlib, parse_html_fast)]
        for page in pages:
            # p auto-closed by hr → hr and the trailing 'b' sit in body
            assert page.tokens == ["a", "b"]
            (p,) = page.candidates
            assert (p[4], p[2], p[3]) == ("p", 0, 1)
            assert page.media == [("hr", 1, None)]
            assert p[7] == p[8]  # no media inside the p
        assert pages[0] == pages[1]
        orig = X.parse_html
        try:
            X.parse_html = parse_stdlib
            a = extract_document(html)
            X.parse_html = parse_html_fast
            b = extract_document(html)
        finally:
            X.parse_html = orig
        assert a == b


def test_fast_parser_rejects_non_utf8():
    assert parse_html_fast(b"<p>x</p>\xff\x80") is None


def test_fast_parser_rawtext_and_entities():
    page = parse_html_fast(
        "<body><script>if (a<b) {'</div>'}</script><p>x &amp; y &#65;</p></body>"
    )
    assert page.tokens == ["x", "&", "y", "A"]
    assert [c[4] for c in page.candidates] == ["p"]


# balanced-HTML strategy: properly nested tags over normal text — the
# domain where fast/stdlib equivalence IS claimed; covers tag combos
# the fixture corpus lacks (style inlines, media elements, tables).
_WORDS = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=7), min_size=1, max_size=6
).map(" ".join)
_INLINE = ["b", "strong", "i", "em", "code", "u", "s", "sub", "sup", "a"]
_BLOCK = ["p", "div", "li", "h1", "h2", "blockquote", "pre", "td"]


@st.composite
def _balanced(draw, depth=0):
    parts = []
    for _ in range(draw(st.integers(0, 3))):
        kind = draw(st.integers(0, 3 if depth < 3 else 1))
        if kind == 0:
            parts.append(draw(_WORDS))
        elif kind == 1:
            parts.append(draw(st.sampled_from(["<img src='/x'/>", "<hr/>", "<br/>"])))
        elif kind == 2:
            t = draw(st.sampled_from(_INLINE))
            attr = " href='/q'" if t == "a" else ""
            parts.append(f"<{t}{attr}>{draw(_balanced(depth + 1))}</{t}>")
        else:
            t = draw(st.sampled_from(_BLOCK))
            parts.append(f"<{t}>{draw(_balanced(depth + 1))}</{t}>")
    return "".join(parts)


@given(_balanced())
@settings(max_examples=200, deadline=None)
def test_equivalent_to_stdlib_on_balanced_html(body):
    """fast ≡ stdlib on well-formed HTML, INCLUDING the media/style
    kernel surfaces (params on) — the equivalence contract extended to
    tag combinations the fixture corpus never produces."""
    from ocrd_segment_spark.config import ExtractParams

    html = f"<html><body>{body}</body></html>"
    P = ExtractParams(media_regions=True, style_spans=True)
    orig = X.parse_html
    try:
        X.parse_html = parse_stdlib
        a = extract_document(html, P)
        X.parse_html = parse_html_fast
        b = extract_document(html, P)
    finally:
        X.parse_html = orig
    assert a == b
    assert parse_stdlib(html, _ALL) == parse_html_fast(html, _ALL)


_ATTR_CASES = [
    "<p style='font-weight: bold'>x</p>",
    '<p style="font-size: 12px; color:red">x</p>',
    "<p style=font-style:italic>x</p>",             # unquoted value
    "<p STYLE='a:b' Dir=RTL>x</p>",                  # case-insensitive names
    "<p style='a:&quot;q&quot;'>x</p>",              # entity in value
    "<p style='one' style='two'>x</p>",              # duplicate: last wins
    "<p disabled style='s:1'>x</p>",                 # bare attr before
    "<p style = 'spaced'>x</p>",
    "<img src='/x' style='s:2'/>",                   # self-closing
    "<p style=font-family:a=b>x</p>",                # '=' in unquoted value
    "<p data-x=a=b=c title=v>x</p>",                 # multiple '='
    "<p dir==rtl>x</p>",                             # '=' run collapses
    "<p style=font-family:O'Neil>x</p>",             # quote mid-unquoted value
    "<p dir=>x</p>",                                 # empty unquoted value
    "<p title='a>b'>x</p>",                          # '>' inside quoted value
    "<p data-x=a/>y",                                # value-slash: NOT self-closing
    "<p disabled/>y",                                # name-slash: self-closing
    "<p data-x='v'/>y",                              # quote-slash: self-closing
]

# self-close parity (kernel 1.5.4, round-3 advice): a '/' after a
# spaced '=value' binds to the value in html.parser — these are valid
# HTML shapes, not garbage, so tree shape must match the stdlib.
_SELF_CLOSE_CASES = [
    "<div href = foo/>inside</div>",     # spaced both sides: open tag
    "<div href= foo/>inside</div>",      # space after '=': open tag
    "<div href =foo/>inside</div>",      # space before '=': open tag
    "<div href=foo/>inside</div>",       # unspaced: open tag
    '<div x="q" y = z/>inside</div>',    # after a quoted attr: open tag
    "<div x=a= b/>inside</div>",         # '=' consumed by x's value → bare name 'b': self-closes
    "<div x=a=b/>inside</div>",          # '=' inside unquoted value: open tag
    "<div a/b=c/>inside</div>",          # name after '/': open tag
    "<div href= />inside</div>",         # value IS the slash: open tag
    "<div disabled/>inside</div>",       # bare name: self-closes
    "<div x='q'/>inside</div>",          # quoted value: self-closes
    "<div = foo/>inside</div>",          # no name before '=': self-closes
    # kernel 1.5.5 (review): quotes INSIDE an unquoted value bind —
    # html.parser only rejects a value that STARTS with a quote
    "<div title=don't/>inside</div>",    # apostrophe mid-value: open tag
    '<div x=do"nt/>inside</div>',        # double quote mid-value: open tag
    "<div x=a'b/>inside</div>",          # open tag
    "<div x= 'q'/>inside</div>",         # spaced QUOTED value: self-closes
    "<div x=''/>inside</div>",           # empty quoted value: self-closes
    "<div x==v/>inside</div>",           # '=' run then value: open tag
]


def test_self_close_slash_binding_matches_stdlib():
    for case in _SELF_CLOSE_CASES:
        html = f"<html><body>{case}</body></html>"
        a, b = parse_stdlib(html, _ALL), parse_html_fast(html, _ALL)
        assert a == b, (case, a, b)


def _first_tag_attrs(events):
    from ocrd_segment_spark.kernel.walk import EMPTY, OPEN

    return next(a for kind, tag, a in events if kind in (OPEN, EMPTY) and tag not in ("html", "body"))


def test_attr_parity_between_parsers():
    """The fast tokenizer's raw attribute text, tokenized by
    parse_raw_attrs, must give the dict html.parser reports, on every
    attribute syntax the kernel's gated paths read (kernel 1.5.0)."""
    from ocrd_segment_spark.kernel.htmlparse import _EventSource
    from ocrd_segment_spark.kernel.htmlparse_fast import parse_raw_attrs, tokenize

    for case in _ATTR_CASES:
        html = f"<html><body>{case}</body></html>"
        source = _EventSource()
        source.feed(html)
        source.close()
        got = [
            dict(_first_tag_attrs(source.events)),
            parse_raw_attrs(_first_tag_attrs(tokenize(html))),
        ]
        assert got[0] == got[1], (case, got)
    # values survive: spot-check one
    attrs = parse_raw_attrs(" style='font-weight: bold' dir=rtl")
    assert attrs["style"] == "font-weight: bold" and attrs["dir"] == "rtl"


_STYLE_ATTRS = [
    "", "", "",  # most elements unstyled
    ' style="font-weight: bold"',
    ' style="font-style: normal; font-size: 14px"',
    " style='font-family: Georgia, serif'",
    ' style="text-decoration: underline dashed"',
    ' style="vertical-align: super; letter-spacing: 2px"',
]


@st.composite
def _balanced_styled(draw, depth=0):
    parts = []
    for _ in range(draw(st.integers(0, 3))):
        kind = draw(st.integers(0, 3 if depth < 3 else 1))
        if kind == 0:
            parts.append(draw(_WORDS))
        elif kind == 1:
            parts.append(draw(st.sampled_from(["<img src='/x'/>", "<hr/>", "<br/>"])))
        elif kind == 2:
            t = draw(st.sampled_from(_INLINE))
            attr = " href='/q'" if t == "a" else draw(st.sampled_from(_STYLE_ATTRS))
            parts.append(f"<{t}{attr}>{draw(_balanced_styled(depth + 1))}</{t}>")
        else:
            t = draw(st.sampled_from(_BLOCK))
            attr = draw(st.sampled_from(_STYLE_ATTRS))
            parts.append(f"<{t}{attr}>{draw(_balanced_styled(depth + 1))}</{t}>")
    return "".join(parts)


@given(_balanced_styled())
@settings(max_examples=150, deadline=None)
def test_equivalent_to_stdlib_with_css_styles(body):
    """fast ≡ stdlib with the css_styles surface on: lazy attribute
    parsing must yield the same TextStyle runs as the stdlib dicts."""
    from ocrd_segment_spark.config import ExtractParams

    html = f"<html><body>{body}</body></html>"
    P = ExtractParams(media_regions=True, style_spans=True, css_styles=True)
    orig = X.parse_html
    try:
        X.parse_html = parse_stdlib
        a = extract_document(html, P)
        X.parse_html = parse_html_fast
        b = extract_document(html, P)
    finally:
        X.parse_html = orig
    assert a == b
