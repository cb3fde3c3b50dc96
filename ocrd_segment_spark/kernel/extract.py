"""Per-document extraction kernel — pure, frozen, deterministic.

This is the web-graft analog of the reference's per-page processor
chain (``ocrd-segment-repair`` → extract: reference repair.py:107-186
stage order; extract_pages.py:289-376 hierarchy walk). One call = one
document; the Spark pipeline maps it over Arrow batches
(``mapInPandas``) and the single-process oracle maps it over a list.
Byte-identical output between the two is guaranteed by construction:
both import THIS function (SURVEY.md §7.2).

Stages, in the reference's fixed order (repair.py:107-186):

1. parse (S1)                    — ``htmlparse.parse_html``
2. candidate regions + spans     — DOM walk; spans are token-hull spans,
   i.e. already "shrunk to foreground" (G11 sanitize analog: the
   text-node hull replaces the binarized-foreground hull,
   reference repair.py:545-590)
3. validity (G8/P6/P8)           — clamp/drop empty
4. plausibilize (J2/J3 + G4/G14/G15) — interval decision table
5. classify + filter (P1/P3 analogs + link-density heuristic layer)
6. simplify (G9 gap-merge) and spread (G10), if enabled
7. reading-order serialization (W1) + span re-offsetting (G17)
"""

from __future__ import annotations

import numpy as np

from ..config import DEFAULT_PARAMS, ExtractParams
from . import intervals
from .htmlparse import NONTEXT_TAGS, Node
# the regex tokenizer is the frozen parser (1.5× the stdlib builder;
# equivalence on realistic HTML pinned by tests/test_fastparse.py —
# the stdlib builder stays in htmlparse.py as the cross-check)
from .htmlparse_fast import parse_html_fast as parse_html

# Tags that can become region candidates.
LEAF_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li figcaption blockquote pre td th dt dd caption summary".split()
)
CONTAINER_TAGS = frozenset("div section article main body".split())
CANDIDATE_TAGS = LEAF_TAGS | CONTAINER_TAGS

_HEADINGS = frozenset("h1 h2 h3 h4 h5 h6".split())

# Inline style tags → TextStyle bit (reference TextStyle fields,
# extract_words.py:127-145). Cumulative OR down the tree: each DOM
# frame carries the mask of all enclosing style tags. With
# ``params.css_styles`` the frame state widens to the css tuple
# (kernel/cssstyle.py) and inline ``style=`` attributes fold in with
# CSS override semantics (an explicit ``font-weight: normal`` clears
# an enclosing <b>'s bit).
from .cssstyle import (  # noqa: E402  (kernel-internal re-export)
    CSS_DEFAULT,
    STYLE_FLAG_NAMES,
    STYLE_TAGS,
    apply_css,
)
from .htmlparse import node_attrs  # noqa: E402

# The complete text-region type vocabulary _classify can emit —
# analog of the reference's region-type vocabulary (project.py:50-65 /
# ocrd-tool.json:209-271). Frozen alongside _classify; the GT review
# table (sources/text_files.py) uses it as its default dropdown so the
# library path never needs a driver-side pass to discover types.
RTYPE_VOCABULARY = (
    "aside", "caption", "footer", "header", "heading", "list",
    "nav", "paragraph", "pre", "quote", "table",
)

MEDIA_RTYPE = {
    "img": "image",
    "picture": "image",
    "svg": "image",
    "hr": "separator",
    "video": "media",
    "audio": "media",
    "embed": "media",
    "iframe": "media",
    "object": "media",
    "canvas": "media",
}


def _classify(node: Node) -> str:
    """Frozen rtype rule — analog of the region-type vocabulary
    (reference project.py:50-65 for the 15 types; extract_pages.py:39-98
    for the subtype colordict). Boilerplate ancestors dominate."""
    chain = []
    n: Node | None = node
    while n is not None and n.tag != "#document":
        chain.append(n.tag)
        n = n.parent
    for boiler in ("nav", "header", "footer", "aside"):
        if boiler in chain:
            return boiler
    if node.tag == "figcaption" or "figure" in chain:
        return "caption"
    if node.tag in _HEADINGS:
        return "heading"
    if node.tag in ("li", "dt", "dd"):
        return "list"
    if node.tag in ("td", "th", "caption") or "table" in chain:
        return "table"
    if node.tag == "pre":
        return "pre"
    if node.tag == "blockquote":
        return "quote"
    return "paragraph"


def _pre_verbatim(node: Node) -> str:
    """Verbatim text of a ``<pre>`` subtree (params.preserve_pre).

    Frozen rule: text descendants concatenated in document order —
    inline element boundaries contribute NOTHING (no spaces), and
    NONTEXT_TAGS subtrees (script/style/…) are skipped like everywhere
    else. Normalization is exactly the HTML spec's: ``\\r\\n``/``\\r``
    become ``\\n`` and ONE newline immediately after the start tag is
    dropped; all other whitespace (indentation, blank lines, trailing
    spaces) is the document's own bytes."""
    parts: list[str] = []
    stack: list[tuple[Node, int]] = [(node, 0)]
    while stack:
        n, ci = stack.pop()
        while ci < len(n.children):
            child = n.children[ci]
            ci += 1
            if isinstance(child, str):
                parts.append(child)
                continue
            if child.tag in NONTEXT_TAGS:
                continue
            stack.append((n, ci))
            n, ci = child, 0
    raw = "".join(parts).replace("\r\n", "\n").replace("\r", "\n")
    if raw.startswith("\n"):
        raw = raw[1:]
    return raw


def _walk(
    root: Node,
    collect_media: bool = False,
    collect_styles: bool = False,
    css_styles: bool = False,
    preserve_pre: bool = False,
):
    """Single iterative DOM walk (document order). Returns
    (tokens, tok_link, tok_style, candidates, media): candidates is a
    list of dicts with tok_first/tok_last (token-index hull = G11
    shrink analog), depth, pre-order index, direct token count, node
    ref, and has_candidate_desc — everything later stages need.
    ``tok_style`` is the per-token style state (empty unless
    ``collect_styles``): a bare bitmask int, or the full css tuple
    (kernel/cssstyle.py CSS_DEFAULT layout) when ``css_styles``;
    ``media`` is the document-order list of non-text media elements
    (empty unless ``collect_media``), each with the token index where
    it sits."""
    tokens: list[str] = []
    tok_link: list[bool] = []
    tok_style: list = []
    candidates: list[dict] = []
    media: list[dict] = []

    # stack entries: [node, child_iter_index, depth, link_depth,
    #                 tok_first, direct_tokens, cand_desc, pre_index,
    #                 style_state]
    pre_counter = 0
    style0 = CSS_DEFAULT if css_styles else 0
    stack = [[root, 0, 0, 0, 0, 0, False, 0, style0]]
    while stack:
        frame = stack[-1]
        node, ci = frame[0], frame[1]
        if ci < len(node.children):
            frame[1] += 1
            child = node.children[ci]
            if isinstance(child, str):
                toks = child.split()
                if toks:
                    in_link = frame[3] > 0
                    tokens.extend(toks)
                    tok_link.extend([in_link] * len(toks))
                    if collect_styles:
                        tok_style.extend([frame[8]] * len(toks))
                    frame[5] += len(toks)
                continue
            if collect_media and child.tag in MEDIA_RTYPE:
                # <picture><img/></picture> is ONE image: skip the
                # inner img (the reference extracts each region once)
                if not (child.tag == "img" and node.tag == "picture"):
                    media.append(
                        {"tag": child.tag, "tok_at": len(tokens), "node": child}
                    )
            if child.tag in NONTEXT_TAGS:
                continue
            pre_counter += 1
            if css_styles:
                st = frame[8]
                tag_bit = STYLE_TAGS.get(child.tag, 0)
                if tag_bit:
                    st = (st[0] | tag_bit, *st[1:])
                child_style = apply_css(st, node_attrs(child).get("style"))
            else:
                child_style = frame[8] | STYLE_TAGS.get(child.tag, 0)
            if preserve_pre and child.tag == "pre":
                # the whole subtree is ONE verbatim token (see
                # _pre_verbatim); descendants are consumed here, so
                # they get no pre_index / candidacy / media / style
                # runs of their own — the region is a single run
                # styled by the state at <pre> entry
                raw = _pre_verbatim(child)
                if raw.strip():
                    in_link = frame[3] > 0
                    tokens.append(raw)
                    tok_link.append(in_link)
                    if collect_styles:
                        tok_style.append(child_style)
                    candidates.append(
                        {
                            "node": child,
                            "depth": frame[2] + 1,
                            "tok_first": len(tokens) - 1,
                            "tok_last": len(tokens),
                            "pre_index": pre_counter,
                        }
                    )
                    frame[6] = True
                continue
            stack.append(
                [
                    child,
                    0,
                    frame[2] + 1,
                    frame[3] + (1 if child.tag == "a" else 0),
                    len(tokens),
                    0,
                    False,
                    pre_counter,
                    child_style,
                ]
            )
            continue
        # post-order: decide candidacy
        stack.pop()
        node, _, depth, _, tok_first, direct, cand_desc, pre_index, _ = frame
        tok_last = len(tokens)
        is_cand = False
        if (
            node.tag in CANDIDATE_TAGS
            and tok_last > tok_first
            and (not cand_desc or (direct > 0 and node.tag != "body"))
        ):
            is_cand = True
            candidates.append(
                {
                    "node": node,
                    "depth": depth,
                    "tok_first": tok_first,
                    "tok_last": tok_last,
                    "pre_index": pre_index,
                }
            )
        if stack and (is_cand or cand_desc):
            stack[-1][6] = True
    # post-order appended deepest-first; document (pre) order is the
    # frozen processing order (W1 analog)
    candidates.sort(key=lambda c: c["pre_index"])
    return tokens, tok_link, tok_style, candidates, media


# HTML dir attribute vocabulary; anything else is invalid and the
# ancestor walk continues past it (frozen rule).
_DIR_VALUES = frozenset(("ltr", "rtl", "auto"))


def _resolve_dir(node: Node) -> str | None:
    """Nearest self-or-ancestor VALID ``dir=`` value (reading-direction
    inheritance, the reference's readingDirection fallback chain
    extract_words.py:150-168 grafted onto the DOM)."""
    n: Node | None = node
    while n is not None:
        if n.tag != "#document":
            v = node_attrs(n).get("dir")
            if v:
                v = v.strip().lower()
                if v in _DIR_VALUES:
                    return v
        n = n.parent
    return None


def _media_spans(media, out_pos_fn, cand_by_node, order_base, with_dir=False):
    """Zero-length media-region spans (kernel 1.3.0). Media spans skip
    validity/plausibilize/classify by design — they carry position and
    type, not extent (P8 zero-length filtering applies to TEXT regions
    only). Output order continues after the text regions, sorted by
    (position, document order)."""
    out = []
    for m_idx, m in enumerate(media):
        pos = out_pos_fn(m)
        parent_id = ""
        anc = m["node"].parent
        while anc is not None:
            pid = cand_by_node.get(id(anc))
            if pid is not None:
                parent_id = pid
                break
            anc = anc.parent
        span = {
            "region_id": f"m{m_idx:04d}",
            "rtype": MEDIA_RTYPE[m["tag"]],
            "subtype": m["tag"],
            "start": pos,
            "end": pos,
            "parent_id": parent_id,
            "order": 0,
            "score": 1.0,
            "_m_idx": m_idx,
        }
        if with_dir:
            span["dir"] = _resolve_dir(m["node"])
        out.append(span)
    out.sort(key=lambda r: (r["start"], r["_m_idx"]))
    for j, r in enumerate(out):
        r["order"] = order_base + j
        del r["_m_idx"]
    return out


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
    tree = parse_html(html)
    if tree is None:
        metrics["parse_failed"] = True
        return "", [], metrics

    tokens, tok_link, tok_style, candidates, media = _walk(
        tree,
        params.media_regions,
        params.style_spans,
        params.style_spans and params.css_styles,
        params.preserve_pre,
    )
    metrics["n_media"] = len(media)
    if not candidates or not tokens:
        if media:
            return "", _media_spans(
                media, lambda m: 0, {}, 0, params.reading_direction
            ), metrics
        return "", [], metrics

    # document text + token char offsets (the 1-D coordinate frame)
    tok_len = np.fromiter(map(len, tokens), dtype=np.int64, count=len(tokens))
    tok_start = np.zeros(len(tokens), dtype=np.int64)
    np.cumsum(tok_len[:-1] + 1, out=tok_start[1:])
    tok_end = tok_start + tok_len
    doc_text = " ".join(tokens)
    doc_len = len(doc_text)
    tok_link_arr = np.asarray(tok_link, dtype=bool)
    # prefix sums once per doc: the per-region link-density slice sums
    # below become two O(1) lookups (round-6 perf; integer-exact)
    link_cum = np.cumsum(np.where(tok_link_arr, tok_len, 0))

    n = len(candidates)
    metrics["n_candidates"] = n
    starts = np.fromiter(
        (tok_start[c["tok_first"]] for c in candidates), dtype=np.int64, count=n
    )
    ends = np.fromiter(
        (tok_end[c["tok_last"] - 1] for c in candidates), dtype=np.int64, count=n
    )
    depths = np.fromiter((c["depth"] for c in candidates), dtype=np.int64, count=n)

    # stage 3: validity (G8/P8)
    starts, ends, valid = intervals.ensure_valid(starts, ends, doc_len)

    # stage 4: plausibilize (only among valid candidates)
    actions = np.full(n, intervals.DELETE, dtype=np.int64)
    vidx = np.nonzero(valid)[0]
    if len(vidx):
        act_v, s_v, e_v = intervals.plausibilize(
            starts[vidx], ends[vidx], depths[vidx], params.merge_min_overlap
        )
        actions[vidx] = act_v
        starts[vidx] = s_v
        ends[vidx] = e_v

    # stage 5: classify + filter survivors
    kept: list[int] = []
    for i in range(n):
        if actions[i] != intervals.KEEP:
            continue
        rtype = _classify(candidates[i]["node"])
        candidates[i]["rtype"] = rtype
        if rtype in params.drop_types:
            continue
        s, e = int(starts[i]), int(ends[i])
        if e - s < params.min_region_chars:
            continue
        # link density over the FINAL span's tokens (merges included).
        # Σ tok_len[ti:tj] folds to offsets minus the tj-ti-1 interior
        # single-space gaps; linked chars come from the prefix sums —
        # same integers as the former slice sums, O(1) per region.
        ti = int(tok_start.searchsorted(s, side="left"))
        tj = int(tok_end.searchsorted(e, side="right"))
        if tj > ti:
            total = int(tok_end[tj - 1] - tok_start[ti]) - (tj - ti - 1)
            linked = int(link_cum[tj - 1] - (link_cum[ti - 1] if ti else 0))
        else:
            total = linked = 0
        density = linked / total if total else 1.0
        if density > params.max_link_density:
            continue
        candidates[i]["score"] = round(1.0 - density, 6)
        kept.append(i)
    metrics["n_kept"] = len(kept)
    metrics["n_dropped"] = n - len(kept)
    if not kept:
        if media:
            return "", _media_spans(
                media, lambda m: 0, {}, 0, params.reading_direction
            ), metrics
        return "", [], metrics

    # stage 7 prep: reading order = span start (laminar ⇒ equivalent to
    # DOM pre-order; pre_index tiebreak keeps sorts stable, W5)
    kept.sort(key=lambda i: (int(starts[i]), candidates[i]["pre_index"]))
    k_starts = starts[kept]
    k_ends = ends[kept]

    # stage 6: simplify (gap-merge) then spread, if enabled
    if params.simplify_gap_tolerance > 0 and len(kept) > 1:
        group, m_s, m_e = intervals.simplify_gap_merge(
            k_starts, k_ends, params.simplify_gap_tolerance
        )
        # merged region inherits the first member's identity
        firsts = [kept[int(np.nonzero(group == g)[0][0])] for g in range(len(m_s))]
        kept = firsts
        k_starts, k_ends = m_s, m_e
    if params.spread_chars > 0:
        k_starts, k_ends = intervals.spread(
            k_starts, k_ends, params.spread_chars, doc_len
        )

    # stage 7: serialize in reading order; re-offset spans (G17)
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
    # media spans (cand_by_node below).
    for out_order, i in enumerate(kept):
        c = candidates[i]
        s, e = int(k_starts[out_order]), int(k_ends[out_order])
        piece = doc_text[s:e]
        if out_order:
            cursor += len(sep)
        pieces.append(piece)
        region = {
            "region_id": f"r{c['pre_index']:04d}",
            "rtype": c["rtype"],
            "subtype": c["node"].tag,
            "start": cursor,
            "end": cursor + len(piece),
            "parent_id": "",
            "order": out_order,
            "score": c.get("score", 1.0),
        }
        if params.reading_direction:
            region["dir"] = _resolve_dir(c["node"])
        if params.style_spans:
            # contiguous equal-state token runs inside the FINAL span,
            # re-offset to the output frame (TextStyle analog,
            # reference extract_words.py:127-145; interior separators
            # between same-state tokens belong to the run). State is a
            # bitmask int, or the css tuple under params.css_styles —
            # runs break whenever ANY TextStyle field changes.
            css = params.css_styles
            empty_state = CSS_DEFAULT if css else 0
            ti = int(tok_start.searchsorted(s, side="left"))
            tj = int(tok_end.searchsorted(e, side="right"))
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
                        "start": cursor + max(0, int(tok_start[t]) - s),
                        "end": cursor + min(len(piece), int(tok_end[t2]) - s),
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
        # map each media element's token position (doc-text frame) into
        # the output frame: the first kept region whose final span ends
        # at/after it hosts the zero-length span; trailing media lands
        # at the end of the output.
        n_kept_final = len(kept)
        cand_by_node = {
            id(candidates[i]["node"]): f"r{candidates[i]['pre_index']:04d}"
            for i in kept
        }

        def out_pos(m):
            pos = int(tok_start[m["tok_at"]]) if m["tok_at"] < len(tokens) else doc_len
            for out_order in range(n_kept_final):
                ds, de = int(k_starts[out_order]), int(k_ends[out_order])
                if pos <= de:
                    return regions[out_order]["start"] + max(0, pos - ds)
            return len(text_out)

        regions.extend(
            _media_spans(
                media, out_pos, cand_by_node, n_kept_final, params.reading_direction
            )
        )
    return text_out, regions, metrics
