"""Interval (character-span) column functions — the G-series geometry
kernels (SURVEY.md §2.7) as native Column expressions.

1-D spans make most of the reference's shapely machinery exact:
intersection/union/IoU are arithmetic (no make_valid/buffer escalation
— reference project.py:217-240 becomes ``span_valid``+clamps)."""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def span_valid(s, e, doc_len) -> Column:
    """G8/P6 analog (reference repair.py:736-757): non-empty after
    clamping to [0, doc_len)."""
    return (F.greatest(_c(s), F.lit(0)) < F.least(_c(e), _c(doc_len)))


def span_clamp_start(s, e) -> Column:
    """Normalize a possibly-reversed span: min side."""
    return F.least(_c(s), _c(e))


def span_clamp_end(s, e) -> Column:
    return F.greatest(_c(s), _c(e))


def span_hull_start(s1, s2) -> Column:
    """G3 join_polygons analog — 1-D hull (SURVEY.md: MST degenerate)."""
    return F.least(_c(s1), _c(s2))


def span_hull_end(e1, e2) -> Column:
    return F.greatest(_c(e1), _c(e2))


def span_overlaps(s1, e1, s2, e2) -> Column:
    """G13 overlap predicate (reference repair.py:327-363)."""
    return (_c(s1) < _c(e2)) & (_c(s2) < _c(e1))


def span_contains(s1, e1, s2, e2) -> Column:
    """G13: span1 ⊇ span2."""
    return (_c(s1) <= _c(s2)) & (_c(e2) <= _c(e1))


def span_midpoint_in(s1, e1, s2, e2) -> Column:
    """G14 centroid-in-other test (reference repair.py:251-266):
    midpoint of span1 inside span2."""
    mid = (_c(s1) + _c(e1)) / 2
    return (_c(s2) <= mid) & (mid < _c(e2))
