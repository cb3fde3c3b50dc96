"""1-D character-interval algebra — the geometry kernel of the graft.

The reference's shapely polygon operations (SURVEY.md §2.7 G-series,
reference repair.py:310-365, 592-664, 736-757) become interval
arithmetic over ``[start, end)`` character spans. Intervals are exact
where polygons needed buffering/validity repair, so several reference
ops degenerate (documented per function). All functions are pure and
deterministic. A real page can carry tens of thousands of candidate
spans, so nothing here builds an n×n matrix: ``plausibilize`` resolves
the laminar spans a DOM produces with one sort and a stack sweep, and
keeps the reference's per-page pair loop (repair.py:219-237) only as
the fallback for non-laminar input.
"""

from __future__ import annotations

import numpy as np

# Plausibilize actions (reference repair.py decision table, _compare_segments
# repair.py:310-365). In 1-D: equality and containment are exact.
KEEP = 0
DELETE = 1
MERGE_INTO = 2  # merged into another span (its extent absorbed)


def ensure_valid(starts: np.ndarray, ends: np.ndarray, doc_len: int):
    """G8 analog (reference repair.py:736-757 ``ensure_valid``): clamp
    negative starts to 0, ends to ``doc_len``, and reorder reversed
    spans. Returns (starts, ends, valid_mask); zero-length spans are
    flagged invalid (P8 analog, reference extract_regions.py:154-156)."""
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    lo = np.minimum(starts, ends)
    hi = np.maximum(starts, ends)
    lo = np.clip(lo, 0, doc_len)
    hi = np.clip(hi, 0, doc_len)
    return lo, hi, hi > lo


def ensure_consistent(starts, ends, parent_starts, parent_ends):
    """G7 analog (reference repair.py:667-734 ``ensure_consistent``,
    child-clipped-to-parent branch): clamp each child span to its
    parent's span. The enlarge-parent branch is the elementwise
    min/max dual, done by the caller when ``at_parent``."""
    s = np.maximum(np.asarray(starts), np.asarray(parent_starts))
    e = np.minimum(np.asarray(ends), np.asarray(parent_ends))
    return s, np.maximum(e, s)


def intersection_len(s1, e1, s2, e2):
    """G5/G6 analog: exact interval intersection length (pairwise or
    broadcast). In 1-D no GeometryCollection filtering is needed."""
    return np.maximum(
        0, np.minimum(np.asarray(e1), np.asarray(e2)) - np.maximum(np.asarray(s1), np.asarray(s2))
    )


def iou(s1, e1, s2, e2):
    """G23 analog (reference evaluate.py:390-397): interval IoU.
    Returns 0.0 where the union is empty."""
    inter = intersection_len(s1, e1, s2, e2).astype(np.float64)
    union = (
        np.asarray(e1) - np.asarray(s1) + np.asarray(e2) - np.asarray(s2) - inter
    ).astype(np.float64)
    return np.where(union > 0, inter / np.where(union > 0, union, 1.0), 0.0)


def plausibilize(
    starts: np.ndarray,
    ends: np.ndarray,
    depths: np.ndarray,
    merge_min_overlap: float = 0.90,
):
    """Plausibilize analysis pass — the reference's analyse-then-apply
    worklist build (repair.py:213-270) over one page's candidate spans.

    Decision table (reference _compare_segments repair.py:310-365,
    re-derived for exact 1-D intervals):

    - equal spans            → DELETE the shallower node (the wrapper);
      the deeper node is the more specific segment. Ties on depth break
      by document order: keep the earlier.
    - strict containment     → DELETE the contained (smaller) span —
      redundant with its container (reference deletes the contained
      region after the ascending-area sort, repair.py:221-237).
    - overlap > merge_min_overlap of the smaller span → MERGE the
      smaller into the larger (extent absorbed, reference
      repair.py:405-417); with midpoint of the smaller inside the
      larger, merge regardless of threshold (G14 centroid rule,
      repair.py:251-266); otherwise SPLIT: subtract the overlap from
      the smaller span (G15, repair.py:505-513).

    Spans from a real DOM are laminar: every two spans are disjoint
    (touching allowed) or nested. On such input no merge or split can
    fire and the table reduces to two rules: a span contained in a
    strictly larger span is DELETE; of each group of equal spans the
    deepest is KEEP (ties: lowest input index) and the rest DELETE.
    ``_laminar_keep`` checks laminarity and applies those rules in one
    O(n log n) sort-and-sweep. Anything else — partial overlaps,
    zero-length or reversed spans, as perturbed/synthetic inputs and
    the evaluate analog produce — falls back to the exact pair loop
    ``_plausibilize_pairwise``; both give identical results on laminar
    input (fuzz-pinned).

    Returns (actions, out_starts, out_ends) aligned with the input;
    actions[i] ∈ {KEEP, DELETE, MERGE_INTO}; out spans reflect merges
    and splits for surviving spans.
    """
    s = np.asarray(starts, dtype=np.int64).copy()
    e = np.asarray(ends, dtype=np.int64).copy()
    d = np.asarray(depths, dtype=np.int64)
    keep = _laminar_keep(s, e, d)
    if keep is None:
        return _plausibilize_pairwise(starts, ends, depths, merge_min_overlap)
    actions = np.full(len(s), DELETE, dtype=np.int64)
    actions[keep] = KEEP
    return actions, s, e


def _laminar_keep(s: np.ndarray, e: np.ndarray, depths: np.ndarray):
    """Input indices that ``plausibilize`` keeps when the positive-length
    spans are laminar; None when they are not (or some span is empty).

    Sorting by (start asc, end desc) puts every container before the
    spans it holds, and equal spans next to each other, deepest first,
    then by input index. The sweep keeps a stack of the ends of the
    spans still open at the current start: a span ending past the top
    crosses it (not laminar); a span that finds the stack empty has no
    container and no earlier equal twin, so it is KEEP."""
    if (e <= s).any():
        return None
    order = np.lexsort((np.arange(len(s)), -depths, -e, s))
    stack: list[int] = []
    keep: list[int] = []
    for i, si, ei in zip(order.tolist(), s[order].tolist(), e[order].tolist()):
        while stack and stack[-1] <= si:
            stack.pop()
        if not stack:
            keep.append(i)
        elif stack[-1] < ei:
            return None
        stack.append(ei)
    return keep


def _plausibilize_pairwise(
    starts: np.ndarray,
    ends: np.ndarray,
    depths: np.ndarray,
    merge_min_overlap: float = 0.90,
):
    """The exact pair loop behind ``plausibilize`` — O(n²), the
    fallback for non-laminar input.

    Processing follows the reference's ascending-area total order
    (W3, repair.py:221-227): sort by length ascending, document order as
    tiebreak, and resolve each pair once with the earlier-sorted span as
    the "smaller" side.
    """
    n = len(starts)
    s = np.asarray(starts, dtype=np.int64).copy()
    e = np.asarray(ends, dtype=np.int64).copy()
    depths = np.asarray(depths, dtype=np.int64)
    actions = np.zeros(n, dtype=np.int64)
    if n <= 1:
        return actions, s, e

    length = e - s
    # ascending area (length), document order tiebreak — W3 total order
    order = np.lexsort((np.arange(n), length))

    for oi in range(n):
        i = order[oi]
        if actions[i] != KEEP:
            continue
        for oj in range(oi + 1, n):
            j = order[oj]
            if actions[j] != KEEP or actions[i] != KEEP:
                continue
            inter = min(e[i], e[j]) - max(s[i], s[j])
            if inter <= 0:
                continue
            len_i = e[i] - s[i]
            len_j = e[j] - s[j]
            if s[i] == s[j] and e[i] == e[j]:
                # equal: delete the shallower (wrapper); depth tie →
                # delete the later in document order
                if depths[i] < depths[j] or (depths[i] == depths[j] and i > j):
                    actions[i] = DELETE
                else:
                    actions[j] = DELETE
                continue
            if s[j] <= s[i] and e[i] <= e[j]:
                actions[i] = DELETE  # i contained in j
                continue
            if s[i] <= s[j] and e[j] <= e[i]:
                actions[j] = DELETE  # j contained in i (possible after splits)
                continue
            # partial overlap: i is the smaller side by sort order
            frac = inter / min(len_i, len_j)
            mid_i = (s[i] + e[i]) // 2
            midpoint_inside = s[j] <= mid_i < e[j]
            if frac > merge_min_overlap or midpoint_inside:
                # merge smaller into larger: larger absorbs extent
                s[j] = min(s[i], s[j])
                e[j] = max(e[i], e[j])
                actions[i] = MERGE_INTO
            else:
                # split: subtract the overlap from the smaller span
                if s[i] < s[j]:
                    e[i] = s[j]
                else:
                    s[i] = e[j]
                if e[i] <= s[i]:
                    actions[i] = DELETE
    return actions, s, e


def simplify_gap_merge(starts: np.ndarray, ends: np.ndarray, tolerance: int):
    """G9 analog (reference repair.py:603-630 ``simplify``): merge
    adjacent surviving spans whose gap is <= ``tolerance`` chars.
    Input must be sorted by start and non-overlapping. Returns
    (group_id per span, merged_starts, merged_ends) where group_id maps
    each input span to its output span index."""
    n = len(starts)
    group = np.zeros(n, dtype=np.int64)
    if n == 0:
        return group, np.asarray(starts), np.asarray(ends)
    s = np.asarray(starts, dtype=np.int64)
    e = np.asarray(ends, dtype=np.int64)
    gap = s[1:] - e[:-1]
    new_group = np.concatenate(([False], gap > tolerance))
    group = np.cumsum(new_group)
    # first/last per group (spans are sorted): first index where group changes
    first = np.concatenate(([0], np.nonzero(new_group)[0]))
    last = np.concatenate((np.nonzero(new_group)[0] - 1, [n - 1]))
    out_s = s[first]
    out_e = e[last]
    return group, out_s, out_e


def spread(starts: np.ndarray, ends: np.ndarray, distance: int, doc_len: int):
    """G10 analog (reference repair.py:592-601 ``spread_segments``):
    grow each span by up to ``distance`` chars on each side. The
    reference subtracts only the union of others' ORIGINAL outlines,
    which lets two buffered segments overlap inside a shared gap; the
    frozen 1-D rule is stricter: each side may grow at most to the
    gap's midpoint, so output is always non-overlapping (touching
    allowed). Input sorted by start, non-overlapping."""
    s = np.asarray(starts, dtype=np.int64).copy()
    e = np.asarray(ends, dtype=np.int64).copy()
    n = len(s)
    if n == 0:
        return s, e
    mid = (e[:-1] + s[1:] + 1) // 2  # gap midpoints (right-biased)
    left_bound = np.concatenate(([0], mid))
    right_bound = np.concatenate((mid, [doc_len]))
    s = np.maximum(s - distance, left_bound)
    e = np.minimum(e + distance, right_bound)
    return s, e
