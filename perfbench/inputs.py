"""Seeded benchmark inputs. The same seed always gives the same rows.

- fixture pages: ``ocrd_segment_spark.fixtures.gen_pages`` (about 1 KB,
  at most 13 candidate regions, 9 document classes);
- long-tail pages: forum, list, table and flat-paragraph pages whose
  candidate-region count is Pareto distributed, so a few pages carry
  hundreds of regions and most carry a handful;
- ``documents`` / ``embeddings`` tables in the shape of the contract
  test data, for the JVM query suite and the corpus LM reference.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd

from ocrd_segment_spark.fixtures import gen_pages

# page families of the long-tail corpus
FAMILIES = ("forum", "list", "table", "flat")

_VOCAB = (
    "river stone market window letter garden engine signal harbor field "
    "winter summer paper report number table column record history city "
    "station bridge forest music light voice story answer question people "
    "school market doctor system energy water island mountain valley road "
    "the a of and to in is for on with as by at from that this"
).split()

# the contract test-data vocabulary (documents.text)
_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DOC_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def fixture_pages(n: int, seed: int) -> pd.DataFrame:
    rows = gen_pages(n, seed=seed)
    return pd.DataFrame(
        {"url": [r["url"] for r in rows], "html": [r["html"] for r in rows]}
    )


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(lo, hi)))


def _nav(rng: random.Random) -> str:
    links = " ".join(
        f'<a href="/{w}">{w}</a>' for w in rng.sample(_VOCAB, 6)
    )
    return f"<nav><ul><li>{links}</li></ul></nav>"


def longtail_candidates(n: int, alpha: float, xm: int, cap: int) -> list[int]:
    """``n`` Pareto(alpha, xm) candidate counts, capped, one at the middle
    of each of ``n`` equal-probability strata, largest first. The few
    largest pages decide the workload's cost, so the shapes are the
    same for every seed; the seed varies the pages' content."""
    return [
        min(cap, int(xm / ((i + 0.5) / n) ** (1.0 / alpha))) for i in range(n)
    ]


def longtail_page(rng: random.Random, family: str, n_cand: int) -> bytes:
    """One page of ``family`` with about ``n_cand`` candidate regions."""
    body: list[str] = [f"<header><h1>{_words(rng, 2, 6)}</h1>{_nav(rng)}</header>"]
    if family == "flat":
        body.append("<main>")
        body.extend(f"<p>{_words(rng, 4, 40)}</p>" for _ in range(n_cand))
        body.append("</main>")
    elif family == "list":
        body.append(f"<main><h2>{_words(rng, 2, 5)}</h2><ul>")
        body.extend(f"<li>{_words(rng, 2, 8)}</li>" for _ in range(n_cand))
        body.append("</ul></main>")
    elif family == "table":
        body.append(f"<main><table><caption>{_words(rng, 2, 5)}</caption>")
        cells = [f"<td>{_words(rng, 1, 5)}</td>" for _ in range(n_cand)]
        for i in range(0, len(cells), 4):
            body.append("<tr>" + "".join(cells[i:i + 4]) + "</tr>")
        body.append("</table></main>")
    elif family == "forum":
        body.append("<main>")
        made = 0
        post = 0
        while made < n_cand:
            post += 1
            quote = (
                f"<blockquote>{_words(rng, 3, 20)}</blockquote>"
                if rng.random() < 0.3 else ""
            )
            body.append(
                f"<article><h4>user{rng.randint(1, 999)} #{post}</h4>{quote}"
                f"<p>{_words(rng, 5, 60)}</p></article>"
            )
            made += 2 + (1 if quote else 0)
        body.append("</main>")
    else:
        raise ValueError(f"unknown page family: {family!r}")
    body.append(f"<footer><p>{_words(rng, 4, 8)} copyright</p></footer>")
    return (
        "<html><head><title>t</title></head><body>"
        + "".join(body)
        + "</body></html>"
    ).encode("utf-8")


def longtail_pages(
    n: int, seed: int, alpha: float = 1.2, xm: int = 5, cap: int = 800
) -> pd.DataFrame:
    """Rows come largest page first, the families in turn; because
    :func:`write_parquet` deals rows round-robin over its files, every
    task gets a like share of the tail."""
    rng = random.Random(seed)
    urls, htmls = [], []
    for i, n_cand in enumerate(longtail_candidates(n, alpha, xm, cap)):
        family = FAMILIES[i % len(FAMILIES)]
        urls.append(f"https://lt{rng.randrange(50):02d}.example.net/{family}/{i:06d}.html")
        htmls.append(longtail_page(rng, family, n_cand))
    return pd.DataFrame({"url": urls, "html": htmls})


def documents(n: int, seed: int) -> pd.DataFrame:
    """(doc_id, text, lang, source, n_chars); about 5% of the documents
    are a copy of an earlier one plus one token, so dedup finds pairs."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(len(texts))] + " dup")
        else:
            texts.append(
                " ".join(rng.choice(_DOC_VOCAB) for _ in range(rng.randint(10, 100)))
            )
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [rng.choice(_DOC_LANGS) for _ in range(n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(n: int, seed: int, dim: int = 64) -> pd.DataFrame:
    """(vec_id, embedding, label): unit-norm float32 vectors."""
    g = np.random.default_rng(seed)
    x = g.normal(size=(n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(x),
            "label": g.integers(0, 10, n).astype(np.int32),
        }
    )


def write_parquet(df: pd.DataFrame, path: str, n_files: int = 1) -> str:
    """``df`` as ``n_files`` parquet files in directory ``path``, so the
    scan starts with at least that many tasks. Rows are dealt
    round-robin: file i holds rows i, i + n_files, ..."""
    os.makedirs(path, exist_ok=True)
    n_files = max(1, min(n_files, len(df)))
    for i in range(n_files):
        df.iloc[i::n_files].to_parquet(
            os.path.join(path, f"part-{i:04d}.parquet"), index=False
        )
    return path
