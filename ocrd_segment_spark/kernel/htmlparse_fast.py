"""Regex tokenizer: the kernel's frozen HTML parser.

A single compiled-regex scan over the document yields the start, end
and text events that ``walk.walk`` consumes directly; no element tree
is built. Attributes travel as raw text and are tokenized only when a
gated path (css_styles / reading_direction) reads them. The stdlib
``html.parser`` event source (``htmlparse.py``) feeds the same walker
and is the cross-check (tests/test_fastparse.py). Tokenizer rules:

- self-closing: a trailing '/' binds to a preceding unquoted
  '=value', whitespace around the '=' allowed (html.parser's rule:
  `<a href=foo/>` and `<a href = foo/>` are normal start tags);
  after a bare name or a quoted value it self-closes;
- KNOWN boundaries vs the stdlib cross-check (deep-fuzzed; garbage
  input only, and the kernel contract — Spark == oracle byte identity
  — runs THIS parser on both sides, so it is unaffected): tag names
  here are [a-zA-Z][-a-zA-Z0-9]* while html.parser accepts almost any
  byte after the first letter (`<i'>` is text here, a tag there), and
  an UNTERMINATED quoted attribute recovers at the next '>' here
  while html.parser demotes the whole tag to literal text;
- script/style content is raw text (skipped to the closing tag, never
  tokenized as markup);
- comments / doctype / CDATA / processing instructions ignored;
- character references decoded with ``html.unescape`` (same tables the
  stdlib parser uses).
"""

from __future__ import annotations

import re
from html import unescape

from ..config import DEFAULT_PARAMS
from .walk import CLOSE, EMPTY, FAIL, OPEN, TEXT, Page, walk

# one token per match: comment | declaration/CDATA | PI | end tag | start tag
_TOKEN = re.compile(
    r"<!--.*?(?:-->|$)"          # comment (unterminated swallows rest)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"  # CDATA section
    r"|<![^>]*>?"                 # doctype / declaration
    r"|<\?[^>]*>?"                # processing instruction
    r"|</\s*([a-zA-Z][a-zA-Z0-9:-]*)[^>]*>"      # end tag   (group 1)
    r"|</[^>]*>"                                  # bogus end tag: skipped
    r"|<([a-zA-Z][a-zA-Z0-9:-]*)"                # start tag (group 2)
    r"((?:\"[^\"]*\"|'[^']*'|[^>])*)(/?)>?",  # attrs (3), self-close (4)
    re.DOTALL,
)

# raw-text elements: content runs to the matching close tag (exactly
# the stdlib parser's CDATA-content set, so the event streams agree)
_RAWTEXT = frozenset("script style".split())
_RAW_CLOSE = {t: re.compile(rf"</\s*{t}[^>]*>", re.IGNORECASE) for t in _RAWTEXT}

_LT_SPLIT = re.compile(r"(<)")

# Does a trailing '/' in the attribute text bind to a preceding
# unquoted '=value' (html.parser: `<a href=foo/>`, `<a href = foo/>`,
# `<a href= foo/>` are normal start tags whose value swallows the
# slash)? Matches name `[^\s="'/>]+` after a delimiter, '=' with
# optional whitespace on either side, then an unquoted value running
# to the final '/'. The value may CONTAIN quotes (`<a title=don't/>`
# is an open tag, kernel 1.5.5) — html.parser only rejects a value
# that STARTS with one, hence the lookahead, not a class exclusion.
# A quoted value or a bare name before the slash does NOT match →
# self-closing, same as the stdlib (`<p disabled/>`, `<a x='q'/>`).
# Validated case-by-case against html.parser in tests/test_fastparse.py.
_SLASH_BINDS = re.compile(r"(?:^|[\s\"'/])[^\s=\"'/>]+\s*=\s*(?![\"'])[^\s]*/$")


# html.parser attribute grammar, frozen to the subset both parsers
# must agree on: name, optionally = double-quoted | single-quoted |
# unquoted value. Names lowercased, entity refs decoded, LAST
# duplicate wins (dict semantics, as for the stdlib's attribute
# list). The unquoted branch mirrors html.parser's tolerant rule — any
# run of non-space, non-'>' chars not starting with a quote — so values
# like ``style=font-family:a=b`` parse identically in both sources.
# Like html.parser, '=' runs collapse ('a==b' -> 'b') and an empty
# unquoted value yields ''.
_ATTR_RE = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=+\s*(\"[^\"]*\"|'[^']*'|(?![\"'])[^\s>]*))?"
)


def parse_raw_attrs(raw: str) -> dict:
    """Attribute dict of a start tag's raw attribute text."""
    out: dict = {}
    for m in _ATTR_RE.finditer(raw):
        name = m.group(1).lower()
        v = m.group(2)
        if v is not None:
            if v[:1] in ("'", '"'):
                v = v[1:-1]
            if "&" in v:
                v = unescape(v)
        out[name] = v
    return out


def parse_html_fast(html: bytes | str, params=DEFAULT_PARAMS) -> Page | None:
    """Tokenize and walk one page (None on undecodable/failed input).
    Bytes must be valid UTF-8 — anything else is a parse failure by the
    frozen rule."""
    if isinstance(html, (bytes, bytearray)):
        try:
            html = bytes(html).decode("utf-8", errors="strict")
        except UnicodeDecodeError:
            return None
    return walk(tokenize(html), params, parse_raw_attrs)


def tokenize(html: str):
    """Yield the page's events (see ``walk``); a FAIL event ends a page
    the scan could not read."""
    try:
        search = _TOKEN.search
        pos = 0
        n = len(html)
        while pos < n:
            m = search(html, pos)
            start = n if m is None else m.start()
            if start > pos:
                # a literal '<' that matched no construct is its own
                # data chunk, as in html.parser; token boundaries follow
                # chunk boundaries. Charrefs decode per chunk.
                data = html[pos:start]
                if "<" in data:
                    for part in _LT_SPLIT.split(data):
                        if part:
                            yield TEXT, unescape(part) if "&" in part else part, None
                else:
                    yield TEXT, unescape(data) if "&" in data else data, None
            if m is None:
                break
            pos = m.end()
            end_tag, start_tag, attrs, slash = m.group(1, 2, 3, 4)
            if start_tag is not None:
                tag = start_tag.lower()
                attrs = attrs or ""
                # self-closing: the attrs group greedily consumes a
                # trailing '/', so inspect it. html.parser's rule: the
                # '/' binds to a preceding unquoted '=value', whitespace
                # around the '=' allowed — `<a href=foo/>` AND
                # `<a href = foo/>` are normal start tags — but
                # `<h2 disabled/>` (bare NAME before the slash) and
                # `<a x='q'/>` are self-closing.
                if slash == "/" or (
                    attrs.endswith("/") and _SLASH_BINDS.search(attrs) is None
                ):
                    yield EMPTY, tag, attrs
                    continue
                yield OPEN, tag, attrs
                if tag in _RAWTEXT:
                    # raw content runs to the closing tag
                    close = _RAW_CLOSE[tag].search(html, pos)
                    if close is None:
                        yield TEXT, html[pos:], None
                        pos = n
                    else:
                        yield TEXT, html[pos : close.start()], None
                        yield CLOSE, tag, None
                        pos = close.end()
            elif end_tag is not None:
                yield CLOSE, end_tag.lower(), None
            # comments / declarations / PIs: skipped
    except Exception:
        yield FAIL, None, None
