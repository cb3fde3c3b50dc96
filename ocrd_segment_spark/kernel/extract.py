"""Per-document extraction kernel — pure, frozen, deterministic.

This is the web-graft analog of the reference's per-page processor
chain (``ocrd-segment-repair`` → extract: reference repair.py:107-186
stage order; extract_pages.py:289-376 hierarchy walk). One call = one
document; the Spark pipeline maps it over Arrow batches
(``mapInPandas``) and the single-process oracle maps it over a list.
Byte-identical output between the two is guaranteed by construction:
both import THIS function (SURVEY.md §7.2).

Stages, in the reference's fixed order (repair.py:107-186):

1. parse + walk (S1)             — ``parse_html``: the regex tokenizer's
   events drive one walker (kernel/walk.py) that emits tokens, token
   char offsets, linked-char prefix sums and candidate regions in one
   pass, with every ancestor fact carried on its stack. Spans are
   token-hull spans, i.e. already "shrunk to foreground" (G11 sanitize
   analog: the text-node hull replaces the binarized-foreground hull,
   reference repair.py:545-590)
2. validity (G8/P6/P8)           — holds by construction: a hull of
   non-empty tokens is a non-empty span inside the document text
3. plausibilize (J2/J3 + G4/G14/G15) — interval decision table
4. classify + filter (P1/P3 analogs + link-density heuristic layer)
5. simplify (G9 gap-merge) and spread (G10), if enabled
6. reading-order serialization (W1) + span re-offsetting (G17)

After the walk the per-page body runs on Python lists and ``bisect``;
numpy is used only inside ``intervals.plausibilize``. Every step is
linear (or n log n) in tokens, candidates and media, whatever the
nesting depth.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right

from ..config import DEFAULT_PARAMS, ExtractParams
from . import intervals
from .cssstyle import CSS_DEFAULT, STYLE_FLAG_NAMES

# The fused tokenize + walk entry. extract_document looks the name up
# at call time, so the stdlib cross-check (tests/test_fastparse.py) and
# the benchmark's phase timers can rebind it.
from .htmlparse_fast import parse_html_fast as parse_html
from .walk import (
    ANC_ASIDE,
    ANC_FIGURE,
    ANC_FOOTER,
    ANC_HEADER,
    ANC_NAV,
    ANC_TABLE,
    MEDIA_RTYPE,
)

_HEADINGS = frozenset("h1 h2 h3 h4 h5 h6".split())

# The complete text-region type vocabulary _classify can emit —
# analog of the reference's region-type vocabulary (project.py:50-65 /
# ocrd-tool.json:209-271). Frozen alongside _classify; the GT review
# table (sources/text_files.py) uses it as its default dropdown so the
# library path never needs a driver-side pass to discover types.
RTYPE_VOCABULARY = (
    "aside", "caption", "footer", "header", "heading", "list",
    "nav", "paragraph", "pre", "quote", "table",
)

_BOILER = (
    (ANC_NAV, "nav"), (ANC_HEADER, "header"), (ANC_FOOTER, "footer"), (ANC_ASIDE, "aside"),
)


def _classify(tag: str, anc: int) -> str:
    """Frozen rtype rule — analog of the region-type vocabulary
    (reference project.py:50-65 for the 15 types; extract_pages.py:39-98
    for the subtype colordict). ``anc`` holds the ancestor-or-self bits
    the walker carried down. Boilerplate ancestors dominate, checked in
    the fixed nav → header → footer → aside order."""
    for bit, boiler in _BOILER:
        if anc & bit:
            return boiler
    if tag == "figcaption" or anc & ANC_FIGURE:
        return "caption"
    if tag in _HEADINGS:
        return "heading"
    if tag in ("li", "dt", "dd"):
        return "list"
    if tag in ("td", "th", "caption") or anc & ANC_TABLE:
        return "table"
    if tag == "pre":
        return "pre"
    if tag == "blockquote":
        return "quote"
    return "paragraph"


def _media_spans(media, positions, parents, order_base, with_dir=False):
    """Zero-length media-region spans (kernel 1.3.0). Media spans skip
    validity/plausibilize/classify by design — they carry position and
    type, not extent (P8 zero-length filtering applies to TEXT regions
    only). Output order continues after the text regions, sorted by
    (position, document order)."""
    out = []
    for m_idx, (tag, _, dir_) in enumerate(media):
        pos = positions[m_idx]
        span = {
            "region_id": f"m{m_idx:04d}",
            "rtype": MEDIA_RTYPE[tag],
            "subtype": tag,
            "start": pos,
            "end": pos,
            "parent_id": parents.get(m_idx, ""),
            "order": 0,
            "score": 1.0,
        }
        if with_dir:
            span["dir"] = dir_
        out.append((pos, m_idx, span))
    out.sort(key=lambda t: (t[0], t[1]))
    spans = [t[2] for t in out]
    for j, span in enumerate(spans):
        span["order"] = order_base + j
    return spans


def extract_document(
    html: bytes | str, params: ExtractParams = DEFAULT_PARAMS
) -> tuple[str, list[dict], dict]:
    """Extract main content from one HTML document.

    Returns ``(extracted_text, regions, metrics)``; regions are dicts
    with keys (region_id, rtype, subtype, start, end, parent_id,
    order, score) — spans index into ``extracted_text`` (FIXTURES.md
    F2 schema). Never raises on malformed input: parse failures yield
    ``("", [], {... parse_failed: True})`` (log-and-skip discipline of
    reference extract_pages.py:425-432)."""
    metrics = {"parse_failed": False, "n_candidates": 0, "n_kept": 0, "n_dropped": 0}
    page = parse_html(html, params)
    if page is None:
        metrics["parse_failed"] = True
        return "", [], metrics

    tokens, tok_start, tok_end, link_cum, tok_style, candidates, media = page
    with_dir = params.reading_direction
    metrics["n_media"] = len(media)
    if not candidates:
        if media:
            return "", _media_spans(media, [0] * len(media), {}, 0, with_dir), metrics
        return "", [], metrics

    # document text in the token char-offset frame (the 1-D coordinates)
    doc_text = " ".join(tokens)
    doc_len = len(doc_text)
    n = len(candidates)
    metrics["n_candidates"] = n

    # stage 3: plausibilize the token hulls
    actions, starts, ends = intervals.plausibilize(
        [tok_start[c[2]] for c in candidates],
        [tok_end[c[3] - 1] for c in candidates],
        [c[1] for c in candidates],
        params.merge_min_overlap,
    )
    actions, starts, ends = actions.tolist(), starts.tolist(), ends.tolist()

    # stage 4: classify + filter survivors
    kept: list[tuple] = []
    for i in range(n):
        if actions[i] != intervals.KEEP:
            continue
        c = candidates[i]
        rtype = _classify(c[4], c[5])
        if rtype in params.drop_types:
            continue
        s, e = starts[i], ends[i]
        if e - s < params.min_region_chars:
            continue
        # link density over the FINAL span's tokens (merges included).
        # Σ tok_len[ti:tj] folds to offsets minus the tj-ti-1 interior
        # single-space gaps; linked chars come from the prefix sums.
        ti = bisect_left(tok_start, s)
        tj = bisect_right(tok_end, e)
        if tj > ti:
            total = tok_end[tj - 1] - tok_start[ti] - (tj - ti - 1)
            linked = link_cum[tj - 1] - (link_cum[ti - 1] if ti else 0) if link_cum else 0
        else:
            total = linked = 0
        density = linked / total if total else 1.0
        if density > params.max_link_density:
            continue
        kept.append((s, c[0], e, c, rtype, round(1.0 - density, 6)))
    metrics["n_kept"] = len(kept)
    metrics["n_dropped"] = n - len(kept)
    if not kept:
        if media:
            return "", _media_spans(media, [0] * len(media), {}, 0, with_dir), metrics
        return "", [], metrics

    # stage 6 prep: reading order = span start (laminar ⇒ equivalent to
    # DOM pre-order; the pre_index tiebreak keeps the sort stable, W5)
    kept.sort(key=lambda k: (k[0], k[1]))
    k_starts = [k[0] for k in kept]
    k_ends = [k[2] for k in kept]

    # stage 5: simplify (gap-merge) then spread, if enabled
    if params.simplify_gap_tolerance > 0 and len(kept) > 1:
        group, k_starts, k_ends = intervals.simplify_gap_merge(
            k_starts, k_ends, params.simplify_gap_tolerance
        )
        # merged region inherits the first member's identity
        kept = [k for j, k in enumerate(kept) if j == 0 or group[j] != group[j - 1]]
    if params.spread_chars > 0:
        k_starts, k_ends = intervals.spread(
            k_starts, k_ends, params.spread_chars, doc_len
        )

    # stage 6: serialize in reading order; re-offset spans (G17)
    sep = params.region_separator
    pieces: list[str] = []
    regions: list[dict] = []
    cursor = 0
    # parent_id = nearest KEPT ancestor in the DOM (reference
    # extract_words.py:150-168 child→parent chains). For text regions
    # it is "" by construction: kept regions are span-disjoint and an
    # ancestor's token hull contains its descendants', so no kept
    # region is another's DOM ancestor (pinned by test_kernel). Real
    # links live at the line/word levels (kernel/sublevels.py) and on
    # media spans (below).
    css = params.css_styles
    empty_state = CSS_DEFAULT if css else 0
    for out_order, k in enumerate(kept):
        c = k[3]
        s, e = k_starts[out_order], k_ends[out_order]
        piece = doc_text[s:e]
        if out_order:
            cursor += len(sep)
        pieces.append(piece)
        region = {
            "region_id": f"r{c[0]:04d}",
            "rtype": k[4],
            "subtype": c[4],
            "start": cursor,
            "end": cursor + len(piece),
            "parent_id": "",
            "order": out_order,
            "score": k[5],
        }
        if with_dir:
            region["dir"] = c[6]
        if params.style_spans:
            # contiguous equal-state token runs inside the FINAL span,
            # re-offset to the output frame (TextStyle analog,
            # reference extract_words.py:127-145; interior separators
            # between same-state tokens belong to the run). State is a
            # bitmask int, or the css tuple under params.css_styles —
            # runs break whenever ANY TextStyle field changes.
            ti = bisect_left(tok_start, s)
            tj = bisect_right(tok_end, e)
            runs = []
            t = ti
            while t < tj:
                state = tok_style[t]
                t2 = t
                while t2 + 1 < tj and tok_style[t2 + 1] == state:
                    t2 += 1
                if state != empty_state:
                    mask = state[0] if css else state
                    run = {
                        "start": cursor + max(0, tok_start[t] - s),
                        "end": cursor + min(len(piece), tok_end[t2] - s),
                    }
                    for bit, name in STYLE_FLAG_NAMES:
                        run[name] = bool(mask & bit)
                    if css:
                        (
                            run["font_family"], run["font_size"],
                            run["underline_style"], run["small_caps"],
                            run["letter_spaced"], run["serif"],
                            run["kerning"],
                        ) = state[1:]
                    runs.append(run)
                t = t2 + 1
            region["style_runs"] = runs
        regions.append(region)
        cursor += len(piece)
    text_out = sep.join(pieces)
    if media:
        # each media element's token position (doc-text frame) maps into
        # the output frame: the first kept region whose final span ends
        # at/after it hosts the zero-length span; trailing media lands at
        # the end of the output. Media come in document order, so their
        # positions never decrease and one forward sweep finds each host.
        n_tok = len(tokens)
        n_out = len(kept)
        positions = []
        o = 0
        for _, tok_at, _ in media:
            pos = tok_start[tok_at] if tok_at < n_tok else doc_len
            while o < n_out and pos > k_ends[o]:
                o += 1
            if o < n_out:
                positions.append(regions[o]["start"] + max(0, pos - k_starts[o]))
            else:
                positions.append(len(text_out))
        # the kept candidate whose media interval holds the element;
        # visiting in document order lets a deeper one win, were two
        # kept candidates ever nested
        parents = {}
        for k in sorted(kept, key=lambda k: k[1]):
            c = k[3]
            rid = f"r{c[0]:04d}"
            for m_idx in range(c[7], c[8]):
                parents[m_idx] = rid
        regions.extend(_media_spans(media, positions, parents, n_out, with_dir))
    return text_out, regions, metrics
