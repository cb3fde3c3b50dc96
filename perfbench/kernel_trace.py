"""Per-document kernel timing in the benchmark's own process.

``extract_document`` runs single-process over the workload's pages
with timers wrapped around the kernel's ``parse_html`` and
``intervals.plausibilize``; the remainder (walk, classify, serialize)
is extract minus the two. The wrappers live only in this process —
Spark's Python workers never see them — and are removed afterwards.
The same pass yields the reference digest the Spark output is checked
against.
"""

from __future__ import annotations

import contextlib
import time

from ocrd_segment_spark.kernel import extract as kx
from ocrd_segment_spark.kernel import intervals

from . import meter

# candidate-count bins: (label, low exclusive, high inclusive)
BINS = (("le10", 0, 10), ("le100", 10, 100), ("le1000", 100, 1000))

# the page-shape grid: html size × candidate regions
GRID_KB = (1, 18, 160)
GRID_CANDS = (10, 100, 1000)


class _Timer:
    def __init__(self, fn):
        self.fn = fn
        self.total = 0.0

    def __call__(self, *a, **kw):
        t0 = time.perf_counter()
        try:
            return self.fn(*a, **kw)
        finally:
            self.total += time.perf_counter() - t0


@contextlib.contextmanager
def _wrapped():
    parse = _Timer(kx.parse_html)
    plaus = _Timer(intervals.plausibilize)
    kx.parse_html, intervals.plausibilize = parse, plaus
    try:
        yield parse, plaus
    finally:
        kx.parse_html, intervals.plausibilize = parse.fn, plaus.fn


def timed_extract(htmls) -> tuple[list[str], list[dict]]:
    """(texts, per-doc samples) where a sample holds extract / parse /
    plausibilize microseconds and the candidate count."""
    texts, samples = [], []
    with _wrapped() as (parse, plaus):
        for html in htmls:
            p0, q0 = parse.total, plaus.total
            t0 = time.perf_counter()
            text, _, m = kx.extract_document(html)
            dt = time.perf_counter() - t0
            texts.append(text)
            samples.append(
                {
                    "extract_us": dt * 1e6,
                    "parse_us": (parse.total - p0) * 1e6,
                    "plausibilize_us": (plaus.total - q0) * 1e6,
                    "candidates": m["n_candidates"],
                }
            )
    for s in samples:
        s["rest_us"] = s["extract_us"] - s["parse_us"] - s["plausibilize_us"]
    return texts, samples


def kernel_metrics(samples: list[dict]) -> dict[str, float]:
    col = lambda k, ss=samples: [s[k] for s in ss]  # noqa: E731
    out = {
        "kernel.extract_us.p50": meter.quantile(col("extract_us"), 0.5),
        "kernel.extract_us.p99": meter.quantile(col("extract_us"), 0.99),
        "kernel.extract_us.max": max(col("extract_us"), default=0.0),
        "kernel.parse_us.p50": meter.quantile(col("parse_us"), 0.5),
        "kernel.parse_us.p99": meter.quantile(col("parse_us"), 0.99),
        "kernel.plausibilize_us.p50": meter.quantile(col("plausibilize_us"), 0.5),
        "kernel.plausibilize_us.p99": meter.quantile(col("plausibilize_us"), 0.99),
        "kernel.rest_us.p50": meter.quantile(col("rest_us"), 0.5),
        "kernel.candidates.p50": meter.quantile(col("candidates"), 0.5),
        "kernel.candidates.max": float(max(col("candidates"), default=0)),
    }
    total = sum(col("extract_us")) or 1.0
    for phase in ("parse", "plausibilize", "rest"):
        out[f"kernel.{phase}_share"] = sum(col(f"{phase}_us")) / total
    for label, lo, hi in BINS:
        sub = [s for s in samples if lo < s["candidates"] <= hi]
        out[f"kernel.{label}.pages"] = float(len(sub))
        for phase in ("extract", "parse", "plausibilize", "rest"):
            out[f"kernel.{label}.{phase}_us.p50"] = meter.quantile(
                col(f"{phase}_us", sub), 0.5
            )
    return out


def grid_page(kb: int, n_cand: int) -> bytes | None:
    """A flat page of ``n_cand`` paragraphs padded to about ``kb`` KB;
    None when the size cannot hold that many paragraphs."""
    per = kb * 1024 // n_cand - len("<p></p>")
    if per < 3:
        return None
    word = "abcdefg "
    text = (word * (per // len(word) + 1))[:per].strip() or "abc"
    return (
        "<html><body><main>" + f"<p>{text}</p>" * n_cand + "</main></body></html>"
    ).encode()


def grid_metrics(budget_s: float = 0.3) -> dict[str, float]:
    """µs/doc per phase over the shape grid: each shape repeats until
    ``budget_s`` is spent (at least twice) and reports the median."""
    out = {}
    for kb in GRID_KB:
        for n_cand in GRID_CANDS:
            html = grid_page(kb, n_cand)
            if html is None:
                continue
            runs = []
            t_end = time.perf_counter() + budget_s
            while len(runs) < 2 or time.perf_counter() < t_end:
                runs.extend(timed_extract([html])[1])
            key = f"kernel.grid.{kb}kb_c{n_cand}"
            out[f"{key}.extract_us"] = meter.median(r["extract_us"] for r in runs)
            out[f"{key}.plausibilize_us"] = meter.median(
                r["plausibilize_us"] for r in runs
            )
    return out


def langid_metrics(texts: list[str]) -> dict[str, float]:
    """µs per ``langid.score_document`` call over extracted texts."""
    from ocrd_segment_spark.operators.langid import score_document

    us = []
    for t in texts:
        t0 = time.perf_counter()
        score_document(t)
        us.append((time.perf_counter() - t0) * 1e6)
    return {
        "langid.score_us.p50": meter.quantile(us, 0.5),
        "langid.score_us.p99": meter.quantile(us, 0.99),
    }
