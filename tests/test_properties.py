"""Property-based invariants (SURVEY.md §5.2 item 4), via hypothesis:

- extract_document never raises and its spans are sorted,
  non-overlapping, within bounds, and slice-consistent;
- extraction is deterministic (pure function);
- plausibilize reaches a fixpoint: surviving spans are mutually
  non-overlapping and a second pass is a no-op (repair∘repair=repair);
- plausibilize's laminar sweep equals the pair loop it replaces, and
  exactly the non-laminar inputs fall back to that loop;
- ensure_valid output is always clamped and ordered;
- spread never creates overlap and never leaves the document.
"""

import numpy as np
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from ocrd_segment_spark.kernel import intervals as iv
from ocrd_segment_spark.kernel.extract import extract_document

# --------------------------------------------------------------- extraction
_word = st.text(alphabet="abcdefg", min_size=1, max_size=8)
_words = st.lists(_word, min_size=0, max_size=8).map(" ".join)
_tag = st.sampled_from(["p", "div", "li", "h2", "nav", "figure", "span", "a", "section"])


@st.composite
def _html(draw, depth=0):
    if depth >= 3:
        return draw(_words)
    n = draw(st.integers(0, 3))
    parts = []
    for _ in range(n):
        if draw(st.booleans()):
            tag = draw(_tag)
            inner = draw(_html(depth + 1))  # type: ignore[call-arg]
            closed = draw(st.integers(0, 9)) > 0  # sometimes unclosed
            parts.append(f"<{tag}>{inner}" + (f"</{tag}>" if closed else ""))
        else:
            parts.append(draw(_words))
    return " ".join(parts)


@given(_html())
@settings(max_examples=150, deadline=None)
def test_extract_invariants_on_arbitrary_html(body):
    html = f"<html><body>{body}</body></html>"
    text, regions, metrics = extract_document(html)
    text2, regions2, _ = extract_document(html)
    assert (text, regions) == (text2, regions2)  # pure
    prev_end = None
    for r in regions:
        assert 0 <= r["start"] < r["end"] <= len(text)
        if prev_end is not None:
            assert r["start"] > prev_end  # separator between regions
        prev_end = r["end"]
    if regions:
        assert regions[-1]["end"] == len(text)
        assert regions[0]["start"] == 0
    assert metrics["n_kept"] + metrics["n_dropped"] == metrics["n_candidates"]


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=80, deadline=None)
def test_extract_never_raises_on_garbage_bytes(blob):
    text, regions, metrics = extract_document(blob)
    assert isinstance(text, str)


# -------------------------------------------------------------- plausibilize
_spans = st.lists(
    st.tuples(st.integers(0, 200), st.integers(1, 80), st.integers(1, 5)),
    min_size=0,
    max_size=12,
)


@given(_spans)
@settings(max_examples=200, deadline=None)
def test_plausibilize_fixpoint_and_disjoint(raw):
    starts = np.array([s for s, _, _ in raw], dtype=np.int64)
    ends = np.array([s + l for s, l, _ in raw], dtype=np.int64)
    depths = np.array([d for _, _, d in raw], dtype=np.int64)
    acts, s, e = iv.plausibilize(starts, ends, depths)
    keep = acts == iv.KEEP
    ks, ke = s[keep], e[keep]
    order = np.argsort(ks, kind="stable")
    ks, ke = ks[order], ke[order]
    # survivors must be mutually non-overlapping
    assert all(ks[i + 1] >= ke[i] for i in range(len(ks) - 1)), (raw, ks, ke)
    # and a second pass must change nothing (repair ∘ repair = repair)
    acts2, s2, e2 = iv.plausibilize(ks, ke, np.ones(len(ks), dtype=np.int64))
    assert (acts2 == iv.KEEP).all()
    assert (s2 == ks).all() and (e2 == ke).all()


def _plausibilize_both(starts, ends, depths):
    """Run the dispatcher and the pair loop on the same input and
    assert identical actions, starts and ends (values and dtypes)."""
    got = iv.plausibilize(starts, ends, depths)
    want = iv._plausibilize_pairwise(starts, ends, depths)
    for g, w in zip(got, want):
        assert g.dtype == w.dtype
        assert g.tolist() == w.tolist(), (starts, ends, depths, got, want)


@st.composite
def _laminar_family(draw):
    """DOM-style spans: siblings disjoint or touching, children nested,
    each span repeated 1-3 times (wrapper chains) with tied or
    differing depths; input order shuffled or (start, end)-sorted as
    the repair operator feeds it. At most about 40 spans."""
    spans = []

    def fill(lo, hi, depth, level):
        pos = lo
        for _ in range(draw(st.integers(0, 3))):
            if pos >= hi or len(spans) >= 40:
                return
            a = draw(st.integers(pos, hi - 1))
            b = draw(st.integers(a + 1, hi))
            for _ in range(draw(st.integers(1, 3))):
                spans.append((a, b, depth + draw(st.integers(0, 1))))
            if level < 3:
                fill(a, b, depth + 1, level + 1)
            pos = b + draw(st.integers(0, 2))

    fill(0, draw(st.integers(1, 150)), 0, 0)
    if draw(st.booleans()):
        return sorted(spans, key=lambda t: t[:2])
    return draw(st.permutations(spans))


@given(_laminar_family())
@settings(max_examples=400, deadline=None)
def test_plausibilize_laminar_path_equals_pair_loop(spans):
    s, e, d = (np.array([t[k] for t in spans], dtype=np.int64) for k in range(3))
    assert iv._laminar_keep(s, e, d) is not None  # took the sweep
    _plausibilize_both(s, e, d)


def _crossing_or_empty(spans):
    if any(b <= a for a, b, _ in spans):
        return True
    return any(
        a1 < a2 < b1 < b2 for a1, b1, _ in spans for a2, b2, _ in spans
    )


@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(-5, 30), st.integers(0, 3)),
        max_size=14,
    )
)
@settings(max_examples=400, deadline=None)
def test_plausibilize_fallback_equals_pair_loop(raw):
    """Arbitrary spans: partial overlaps, touching ends, zero-length and
    reversed spans. Exactly the non-laminar ones take the fallback."""
    spans = [(a, a + l, dep) for a, l, dep in raw]
    s, e, d = (np.array([t[k] for t in spans], dtype=np.int64) for k in range(3))
    assert (iv._laminar_keep(s, e, d) is None) == _crossing_or_empty(spans)
    _plausibilize_both(s, e, d)


def test_plausibilize_extract_calls_equal_pair_loop(monkeypatch):
    """Every plausibilize call extract_document makes over the fixture
    corpus, recorded through the module attribute it looks up, takes
    the laminar sweep and matches the pair loop."""
    from ocrd_segment_spark.fixtures import gen_pages

    calls = []
    real = iv.plausibilize

    def record(starts, ends, depths, *rest):
        # the kernel passes Python lists; compare as int64 arrays
        calls.append(tuple(np.array(v, dtype=np.int64) for v in (starts, ends, depths)))
        return real(starts, ends, depths, *rest)

    with monkeypatch.context() as m:
        m.setattr(iv, "plausibilize", record)
        for row in gen_pages(400, seed=7):
            extract_document(row["html"])
    assert len(calls) > 300
    for s, e, d in calls:
        assert iv._laminar_keep(s, e, d) is not None
        _plausibilize_both(s, e, d)


@given(_spans)
@settings(max_examples=100, deadline=None)
def test_ensure_valid_clamps(raw):
    starts = np.array([s for s, _, _ in raw], dtype=np.int64)
    ends = np.array([s + l - 40 for s, l, _ in raw], dtype=np.int64)  # some reversed
    s, e, ok = iv.ensure_valid(starts, ends, doc_len=150)
    assert (s <= e).all() and (s >= 0).all() and (e <= 150).all()
    assert ((e > s) == ok).all()


@given(_spans, st.integers(0, 50))
@settings(max_examples=100, deadline=None)
def test_spread_no_overlap_within_bounds(raw, dist):
    if not raw:
        return
    # build sorted non-overlapping spans (spread's precondition)
    starts_l, ends_l, pos = [], [], 0
    for gap, length, _ in raw:
        s0 = pos + gap + 1
        starts_l.append(s0)
        ends_l.append(s0 + length)
        pos = s0 + length
    doc_len = ends_l[-1] + 100
    s, e = iv.spread(starts_l, ends_l, dist, doc_len)
    assert all(x >= 0 for x in s) and all(x <= doc_len for x in e)
    assert all(s[i + 1] >= e[i] for i in range(len(s) - 1))
    # spans only grow
    assert all(a <= b for a, b in zip(s, starts_l))
    assert all(a >= b for a, b in zip(e, ends_l))


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_sublevels_reconstruct_region_text(data):
    """Property (kernel mirror): joining a region's word slices with
    single spaces reconstructs the region text exactly; line hulls
    tile the words; ids are dense."""
    from ocrd_segment_spark.kernel.sublevels import sublevels_document

    body = data.draw(_html())
    width = data.draw(st.integers(min_value=1, max_value=9))
    text, regions, _ = extract_document(body.encode())
    lines, words = sublevels_document(text, regions, line_width=width)
    by_region = {}
    for w in words:
        by_region.setdefault(w["region_id"], []).append(w)
    for r in regions:
        ws = by_region.get(r["region_id"], [])
        seg = text[r["start"]:r["end"]]
        # reconstruction: word slices joined by single separators
        assert " ".join(text[w["start"]:w["end"]] for w in ws) == seg
        assert [w["w_order"] for w in ws] == list(range(len(ws)))
    for li in lines:
        member_ws = [w for w in words if w["line_id"] == li["line_id"]]
        assert len(member_ws) == li["n_words"] <= width
        assert li["start"] == member_ws[0]["start"]
        assert li["end"] == member_ws[-1]["end"]


@given(st.data())
@settings(max_examples=50, deadline=None)
def test_style_run_invariants_on_arbitrary_html(data):
    """Style runs on arbitrary HTML: inside their region, sorted,
    non-overlapping, at least one flag set, token-aligned slices."""
    from ocrd_segment_spark.config import ExtractParams

    body = data.draw(_html())
    text, regions, _ = extract_document(
        body.encode(), ExtractParams(style_spans=True)
    )
    for r in regions:
        prev = r["start"]
        for run in r["style_runs"]:
            assert r["start"] <= run["start"] < run["end"] <= r["end"]
            assert run["start"] >= prev
            prev = run["end"]
            assert any(v for k, v in run.items() if k not in ("start", "end"))
            piece = text[run["start"]:run["end"]]
            assert piece == piece.strip()  # runs never start/end on a separator


@given(
    st.lists(
        st.text(alphabet="abc", min_size=0, max_size=24), min_size=8, max_size=64
    )
)
@settings(max_examples=10, deadline=None)
def test_label_runs_match_python_rle(spark, labels_list):
    """Property: label_runs equals a trivial Python run-length encoding
    for arbitrary label strings (incl. empty). (spark is the
    session-scoped fixture — allowed inside @given.)"""
    import itertools

    from pyspark.sql import functions as F

    from ocrd_segment_spark.sources.labels import label_runs

    df = spark.createDataFrame([(s,) for s in labels_list], "labels string")
    got = {
        r["labels"]: [(x["label"], x["s"], x["e"]) for x in r["r"]]
        for r in df.select("labels", label_runs(F.col("labels")).alias("r")).collect()
    }
    for s in labels_list:
        exp, pos = [], 0
        for ch, grp in itertools.groupby(s):
            n = len(list(grp))
            exp.append((ch, pos, pos + n))
            pos += n
        assert got[s] == exp, s


# ------------------------------------------------- corpus-quality operators
_urlish = st.text(
    alphabet="abcXY019.:/?&=#%+-_()@ <>",
    min_size=0,
    max_size=40,
)
_piiish = st.text(
    alphabet="abz AB09.@+-()<>#…",
    min_size=0,
    max_size=40,
)


@given(st.lists(_urlish, min_size=1, max_size=8))
@settings(max_examples=15, deadline=None)
def test_canonicalize_url_idempotent(spark, urls):
    """canonicalize ∘ canonicalize = canonicalize — the property that
    makes the canonical url safe to use as a stored key (re-running the
    pipeline over already-canonical urls must not change them)."""
    from ocrd_segment_spark.functions.urls import canonicalize_url

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.withColumn("c1", canonicalize_url("url"))
    twice = once.withColumn("c2", canonicalize_url("c1"))
    for r in twice.collect():
        assert r["c2"] == r["c1"], (r["url"], r["c1"], r["c2"])


@given(st.lists(_piiish, min_size=1, max_size=8))
@settings(max_examples=15, deadline=None)
def test_redact_pii_idempotent_and_clean(spark, texts):
    """Redaction is a fixpoint (re-scrubbing changes nothing) and the
    output matches none of the three PII patterns."""
    from ocrd_segment_spark.functions import pii

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    once = df.withColumn("r1", pii.redact_pii("text"))
    twice = once.withColumn("r2", pii.redact_pii("r1"))
    out = twice.withColumn(
        "leftover",
        F.expr(
            f"regexp_count(r1, '{pii.EMAIL_RE}')"
            f" + regexp_count(r1, '{pii.IPV4_RE}')"
            f" + regexp_count(r1, '{pii.PHONE_RE}')"
        ),
    )
    for r in out.collect():
        assert r["r2"] == r["r1"], (r["text"], r["r1"], r["r2"])
        assert r["leftover"] == 0, (r["text"], r["r1"])


@given(st.lists(st.text(alphabet="ab \n", max_size=30), min_size=1, max_size=6))
@settings(max_examples=15, deadline=None)
def test_remove_frequent_units_identity_below_threshold(spark, texts):
    """With min_doc_freq above the corpus size nothing is removed:
    clean_text is the original modulo empty-unit normalization."""
    from ocrd_segment_spark.operators.paragraphs import remove_frequent_units

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in remove_frequent_units(
            df, min_doc_freq=len(texts) + 1
        ).collect()
    }
    for i, t in enumerate(texts):
        expected = "\n".join(u for u in t.split("\n") if u != "")
        assert out[i]["clean_text"] == expected
        assert out[i]["n_removed"] == 0


_pre_chunk = st.text(
    alphabet="ab \t\n\r(){}:=+", min_size=0, max_size=30
)


@given(
    st.lists(_pre_chunk, min_size=1, max_size=4),
    st.sampled_from(["", "span", "em", "b"]),
)
@settings(max_examples=150, deadline=None)
def test_preserve_pre_verbatim_property(chunks, inline):
    """Whatever whitespace soup sits inside <pre>, the extracted pre
    region slices extracted_text to EXACTLY the spec normalization of
    the raw bytes (\r\n/\r -> \n, one leading \n dropped), with
    inline element boundaries contributing nothing; spans stay a
    disjoint tiling. Mirrors the walker's verbatim <pre> rule
    independently (string ops only)."""
    from ocrd_segment_spark.config import ExtractParams

    if inline:
        body = f"<{inline}>".join(chunks)
        raw = "".join(chunks)
    else:
        body = raw = "".join(chunks)
    html = f"<html><body><p>lead paragraph words</p><pre>{body}</pre></body></html>"
    text, regions, _ = extract_document(html, ExtractParams(preserve_pre=True))
    expected = raw.replace("\r\n", "\n").replace("\r", "\n")
    if expected.startswith("\n"):
        expected = expected[1:]
    pres = [r for r in regions if r["rtype"] == "pre"]
    if not expected.strip() or len(expected) < 2:
        # whitespace-only emits nothing; 1-char pre falls to the
        # min_region_chars floor like any other region
        assert pres == [] or len(expected) >= 2
    else:
        (pre,) = pres
        assert text[pre["start"]:pre["end"]] == expected
    for r in regions:
        assert 0 <= r["start"] < r["end"] <= len(text)
