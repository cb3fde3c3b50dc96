"""The kernel's one pass over a page: HTML events in, walked page out.

Both parsers are event sources for :func:`walk`: the regex tokenizer
(``htmlparse_fast``, the frozen parser) and the stdlib ``html.parser``
cross-check (``htmlparse``). Each yields start, end and text events;
no element tree is built. The recovery rules are written once, here:

- void elements and self-closing start tags never push;
- ``<p>``/``<li>`` auto-close when a new block/item starts;
- an end tag pops up to (and including) the nearest open element of
  that name; an end tag with no open match is ignored, in O(1) through
  a per-tag count of open elements;
- whatever is still open at the end of input closes innermost first.

The stack frame of an open element carries every ancestor fact the
later stages need, so nothing climbs the ancestor chain per region:
the boilerplate/figure/table bits for classification, the nearest
valid ``dir``, the link depth, the style state, and the text mode
(normal, skipped NONTEXT subtree, verbatim ``<pre>``). Candidacy is
decided when an element closes (post-order): a candidate tag with
tokens inside becomes a region candidate unless a descendant already
is one — then only if it also holds tokens of its own and is not
``<body>``.
"""

from __future__ import annotations

from itertools import accumulate, count
from operator import add, sub
from typing import NamedTuple

from .cssstyle import CSS_DEFAULT, STYLE_TAGS, apply_css

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Subtrees whose text never reaches the document text.
NONTEXT_TAGS = frozenset("script style template noscript head title svg".split())

# Block-level tags for the auto-close heuristic.
BLOCK_TAGS = frozenset(
    "address article aside blockquote div dl dd dt fieldset figcaption figure "
    "footer form h1 h2 h3 h4 h5 h6 header hr li main nav ol p pre section "
    "table tbody td tfoot th thead tr ul".split()
)

# Tags that can become region candidates.
LEAF_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li figcaption blockquote pre td th dt dd caption summary".split()
)
CONTAINER_TAGS = frozenset("div section article main body".split())
CANDIDATE_TAGS = LEAF_TAGS | CONTAINER_TAGS

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

# Ancestor-or-self bits read by classification (extract._classify).
ANC_NAV, ANC_HEADER, ANC_FOOTER, ANC_ASIDE, ANC_FIGURE, ANC_TABLE = 1, 2, 4, 8, 16, 32
_ANC_BIT = {
    "nav": ANC_NAV,
    "header": ANC_HEADER,
    "footer": ANC_FOOTER,
    "aside": ANC_ASIDE,
    "figure": ANC_FIGURE,
    "table": ANC_TABLE,
}

# HTML dir attribute vocabulary; anything else is invalid and the
# nearest valid ancestor value applies instead (frozen rule).
_DIR_VALUES = frozenset(("ltr", "rtl", "auto"))

# event kinds: (kind, payload, attrs). TEXT carries the data; OPEN and
# EMPTY (a self-closing start tag) carry the lowercased tag name and
# the source's attributes; CLOSE carries the tag name; FAIL ends a
# page the tokenizer could not read.
TEXT, OPEN, EMPTY, CLOSE, FAIL = range(5)

# text modes of a frame
_NORMAL, _SKIP, _VERBATIM, _PRE = range(4)


class Page(NamedTuple):
    """A walked page.

    ``tokens`` are the whitespace-split words in document order (a
    preserved ``<pre>`` is one verbatim token); the document text is
    ``" ".join(tokens)``, and ``tok_start``/``tok_end`` are each
    token's char offsets in it. ``link_cum[i]`` is the number of linked
    chars in tokens ``0..i`` (None when the page has no linked token).
    ``tok_style`` is the per-token style state (empty unless
    ``style_spans``). ``candidates`` are tuples ``(pre_index, depth,
    tok_first, tok_last, tag, anc, dir, media_first, media_last)`` in
    document order: ``[tok_first, tok_last)`` is the token hull,
    ``anc`` the ancestor-or-self bits, ``[media_first, media_last)``
    the media elements inside. ``media`` holds ``(tag, tok_at, dir)``
    per media element (empty unless ``media_regions``)."""

    tokens: list
    tok_start: list
    tok_end: list
    link_cum: list | None
    tok_style: list
    candidates: list
    media: list


def _own_dir(attrs: dict, inherited):
    v = attrs.get("dir")
    if v:
        v = v.strip().lower()
        if v in _DIR_VALUES:
            return v
    return inherited


def walk(events, params, attrs_of) -> Page | None:
    """Walk one page's event stream; None when the source reports FAIL.

    ``attrs_of`` turns an event's attributes into a dict; it is called
    only when ``css_styles`` or ``reading_direction`` needs them."""
    media_on = params.media_regions
    styles_on = params.style_spans
    css = styles_on and params.css_styles
    pre_on = params.preserve_pre
    dir_on = params.reading_direction
    need_attrs = css or dir_on

    tokens: list[str] = []
    tok_style: list = []
    link_runs: list[tuple[int, int]] = []
    cands: list[tuple] = []
    media: list[tuple] = []
    vbuf: list[str] = []
    open_n: dict[str, int] = {}
    pre_counter = 0
    # frame: [tag, mode, tok_first, direct_tokens, has_candidate_desc,
    #         pre_index, link_depth, style, anc, dir, media_first]
    stack = [["#document", _NORMAL, 0, 0, False, 0, 0,
              CSS_DEFAULT if css else 0, 0, None, 0]]

    def close():
        f = stack.pop()
        tag = f[0]
        open_n[tag] -= 1
        mode = f[1]
        if mode == _NORMAL:
            first = f[2]
            last = len(tokens)
            if (
                tag in CANDIDATE_TAGS
                and last > first
                and (not f[4] or (f[3] and tag != "body"))
            ):
                cands.append(
                    (f[5], len(stack), first, last, tag, f[8], f[9], f[10], len(media))
                )
                stack[-1][4] = True
            elif f[4]:
                stack[-1][4] = True
        elif mode == _PRE:
            # params.preserve_pre: the subtree's text, concatenated in
            # document order (inline boundaries add nothing, NONTEXT
            # skipped), is ONE token styled by the state at <pre>.
            # Normalization is the HTML spec's: \r\n and \r become \n,
            # and one newline right after the start tag is dropped.
            raw = "".join(vbuf).replace("\r\n", "\n").replace("\r", "\n")
            vbuf.clear()
            if raw.startswith("\n"):
                raw = raw[1:]
            if raw.strip():
                tokens.append(raw)
                k = len(tokens)
                if f[6]:
                    link_runs.append((k - 1, k))
                if styles_on:
                    tok_style.append(f[7])
                cands.append(
                    (f[5], len(stack), k - 1, k, tag, f[8], f[9], f[10], f[10])
                )
                stack[-1][4] = True

    # module constants as locals: this loop runs once per HTML event
    text_ev, close_ev, fail_ev, empty_ev, open_ev = TEXT, CLOSE, FAIL, EMPTY, OPEN
    normal, skip, verbatim, pre_mode = _NORMAL, _SKIP, _VERBATIM, _PRE
    block_tags, void_tags, nontext_tags = BLOCK_TAGS, VOID_TAGS, NONTEXT_TAGS
    media_tags, anc_bit, style_tags = MEDIA_RTYPE, _ANC_BIT, STYLE_TAGS
    no_attrs: dict = {}
    for kind, x, a in events:
        if kind == text_ev:
            top = stack[-1]
            mode = top[1]
            if mode == normal:
                toks = x.split()
                if toks:
                    k = len(tokens)
                    tokens += toks
                    top[3] += len(toks)
                    if top[6]:
                        link_runs.append((k, len(tokens)))
                    if styles_on:
                        tok_style += [top[7]] * len(toks)
            elif mode != skip:
                vbuf.append(x)
        elif kind == close_ev:
            if open_n.get(x):
                while stack[-1][0] != x:
                    close()
                close()
        elif kind == fail_ev:
            return None
        else:
            top = stack[-1]
            t = top[0]
            if (t == "p" and x in block_tags) or (t == "li" and x == "li"):
                close()
                top = stack[-1]
            mode = top[1]
            if mode == normal:
                attrs = attrs_of(a) if need_attrs and a else no_attrs
                if media_on and x in media_tags and not (x == "img" and top[0] == "picture"):
                    # <picture><img/></picture> is ONE image
                    media.append(
                        (x, len(tokens), _own_dir(attrs, top[9]) if dir_on else None)
                    )
                if x in nontext_tags:
                    if kind == open_ev:
                        stack.append([x, skip])
                        open_n[x] = open_n.get(x, 0) + 1
                    continue
                pre_counter += 1
                if kind == empty_ev or x in void_tags:
                    continue
                # style state: the OR of the enclosing style tags'
                # TextStyle bits (reference extract_words.py:127-145),
                # or under css_styles the css tuple, where an inline
                # style= folds in with override semantics (an explicit
                # font-weight: normal clears an enclosing <b>'s bit)
                if css:
                    st = top[7]
                    bit = style_tags.get(x, 0)
                    if bit:
                        st = (st[0] | bit, *st[1:])
                    st = apply_css(st, attrs.get("style"))
                elif styles_on:
                    st = top[7] | style_tags.get(x, 0)
                else:
                    st = 0
                stack.append([
                    x,
                    pre_mode if pre_on and x == "pre" else normal,
                    len(tokens),
                    0,
                    False,
                    pre_counter,
                    top[6] + 1 if x == "a" else top[6],
                    st,
                    top[8] | anc_bit.get(x, 0),
                    _own_dir(attrs, top[9]) if dir_on else None,
                    len(media),
                ])
            elif kind == empty_ev or x in void_tags:
                continue
            else:
                stack.append([x, skip if mode == skip or x in nontext_tags else verbatim])
            open_n[x] = open_n.get(x, 0) + 1
    while len(stack) > 1:
        close()

    cands.sort()
    lens = list(map(len, tokens))
    tok_end = list(map(add, accumulate(lens), count()))
    tok_start = list(map(sub, tok_end, lens))
    link_cum = None
    if link_runs:
        linked = [0] * len(tokens)
        for i, j in link_runs:
            linked[i:j] = lens[i:j]
        link_cum = list(accumulate(linked))
    return Page(tokens, tok_start, tok_end, link_cum, tok_style, cands, media)
