"""Stdlib ``html.parser`` event source — the cross-check parser.

Replaces the reference's PAGE-XML deserialization (``page_from_file``,
reference extract_pages.py:236-241) for the web graft. lxml is not
available in this sandbox; ``html.parser.HTMLParser`` reports the
page's start, end and text events, and ``walk.walk`` — the same walker
the regex tokenizer (``htmlparse_fast``, the frozen parser) feeds —
applies the frozen recovery rules to them. tests/test_fastparse.py
checks the two sources against each other through that walker.

Malformed input must never raise out of :func:`parse_html` — the
pipeline's log-and-skip discipline mirrors the reference's
(extract_pages.py:425-432); callers check for ``None``.
"""

from __future__ import annotations

from html.parser import HTMLParser

from ..config import DEFAULT_PARAMS
from .walk import CLOSE, EMPTY, OPEN, TEXT, Page, walk


class _EventSource(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.events: list[tuple] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        self.events.append((OPEN, tag, attrs))

    def handle_startendtag(self, tag: str, attrs) -> None:
        # HTML5 ignores the '/' on start tags for auto-close purposes:
        # '<p>a<hr/>b' ends the paragraph exactly as '<p>a<hr>b' does
        self.events.append((EMPTY, tag, attrs))

    def handle_endtag(self, tag: str) -> None:
        self.events.append((CLOSE, tag, None))

    def handle_data(self, data: str) -> None:
        if data:
            self.events.append((TEXT, data, None))


def parse_html(html: bytes | str, params=DEFAULT_PARAMS) -> Page | None:
    """Parse and walk one page; ``None`` on undecodable/failed input
    (counted as ``parse_failures`` by the caller). Bytes must be valid
    UTF-8 — anything else is a parse failure by the frozen rule."""
    if isinstance(html, (bytes, bytearray)):
        try:
            html = bytes(html).decode("utf-8", errors="strict")
        except UnicodeDecodeError:
            return None
    try:
        source = _EventSource()
        source.feed(html)
        source.close()
    except Exception:
        return None
    return walk(source.events, params, dict)
