"""Real char-n-gram language identification (operators/langid).

The model is a committed constant (trained from SEED_CORPUS in pure
Python); its digest is pinned like the kernel goldens — the contract
oracle embeds the same literals, so silent model drift would desync
Spark and DuckDB.
"""

import hashlib

import pytest

from ocrd_segment_spark.operators.langid import (
    SEED_CORPUS,
    UND,
    _round6,
    normalize,
    score_document,
    train_profiles,
    with_lang_ngram,
)

MODEL_SHA256 = "8994b1be85260c38fa88b05ea71a1dcde5b6b017374b4408118cfd9d05815380"

# held-out sentences — none appear in SEED_CORPUS. (Known
# confusability: pt/es are close enough that SOME Portuguese prose
# lands on es with a 10-sentence seed — a real per-language corpus
# widens the margin; the architecture is what is under test.)
HELD_OUT = [
    ("The rain fell on the quiet street while the children played", "en"),
    ("Many people enjoy reading books about history and science", "en"),
    ("Die Kinder spielten im Garten und der Regen fiel auf die Strasse", "de"),
    ("Viele Menschen lesen gerne Bücher über Geschichte und Wissenschaft", "de"),
    ("Les enfants jouaient dans le jardin et la pluie tombait sur la rue", "fr"),
    ("Beaucoup de gens aiment lire des livres sur l'histoire", "fr"),
    ("Los niños jugaban en el jardín mientras llovía en la calle", "es"),
    ("A mucha gente le gusta leer libros sobre historia y ciencia", "es"),
    ("I bambini giocavano in giardino mentre pioveva sulla strada", "it"),
    ("A molte persone piace leggere libri di storia e di scienza", "it"),
    ("Дети играли в саду пока шел дождь на улице", "ru"),
    ("Многие люди любят читать книги об истории и науке", "ru"),
    ("孩子们在花园里玩耍外面下着雨", "zh"),
    ("很多人喜欢读关于历史和科学的书", "zh"),
    ("As crianças brincavam no jardim enquanto chovia na rua", "pt"),
    ("Muitas pessoas gostam de ler livros sobre a história do mundo", "pt"),
    ("Dzieci bawiły się w ogrodzie podczas gdy padał deszcz", "pl"),
    ("Wiele osób lubi czytać książki o historii i nauce", "pl"),
    ("كان الأطفال يلعبون في الحديقة بينما كان المطر يهطل", "ar"),
    ("كثير من الناس يحبون قراءة الكتب عن التاريخ والعلوم", "ar"),
    ("子供たちは雨の中で庭で遊んでいた", "ja"),
    ("多くの人は歴史や科学についての本を読むのが好きだ", "ja"),
]


def test_model_digest_pinned():
    """The model is part of the frozen contract surface (the oracle
    embeds its literals): recompute deliberately, like GOLDEN_SHA256."""
    assert (
        hashlib.sha256(repr(train_profiles()).encode()).hexdigest()
        == MODEL_SHA256
    )


def test_held_out_classification():
    for text, want in HELD_OUT:
        got, score = score_document(text)
        assert got == want, (text, got, want)
        assert score is not None and score < 0


def test_und_on_empty_and_out_of_vocabulary():
    for text in ("", "   ", "\t\n"):
        assert score_document(text) == (UND, None)
    # digits are out-of-vocabulary but the SPACE unigram is trained
    # evidence (latin text has spaces, Han text does not), so a
    # digits+space document classifies rather than falling to 'und'
    pred, score = score_document("12345 9876")
    assert pred != UND and score is not None


def test_normalization_frozen_rules():
    # ASCII fold + ASCII-whitespace collapse + trim
    assert normalize("  The\tQUICK\n\nfox ") == "the quick fox"
    # full-Unicode lowering is deliberately NOT applied (cross-engine
    # divergence on final sigma etc.) — non-ASCII passes through
    assert normalize("ÄÖÜ Straße") == "ÄÖÜ straße"
    # U+00A0 nbsp is NOT whitespace under the frozen ASCII rule
    assert normalize("a b") == "a b"


def test_norm_codes_matches_normalize():
    """Round-6: the vectorized _norm_codes must emit the IDENTICAL
    codepoint sequence as normalize() — the scorer's frozen step 1 —
    on adversarial whitespace/fold/script mixes (incl. the non-ASCII
    whitespace that must NOT collapse: NBSP, NEL, ideographic space,
    zero-width space, line separator)."""
    import random

    import numpy as np

    from ocrd_segment_spark.operators.langid import _norm_codes, normalize

    rng = random.Random(99)
    alphabet = (
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
        " \t\n\r\f\v0123456789.,!?éÉßÄä@[`{千里足の馬БГДабвгд"
        "ابجدهوز 　​ \U0001F600"
    )
    texts = [
        "", " ", "  ", "\t", "a", "A", " a ", "\t\n\r\f\vZ\t ",
        "Z" * 5, " \t ", "\v\v", "x y", "a  b", "AB CD", "ZaZ",
        "", " ", "a　b", "   ", "A Z",
    ] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 200)))
        for _ in range(3000)
    ]
    for t in texts:
        want = np.frombuffer(
            normalize(t).encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        got = _norm_codes(t)
        assert np.array_equal(want, got), repr(t)


def test_known_rows_accepts_codes():
    """_known_rows(codes) == _known_rows(norm_string) — the array
    fast path score_document takes must match the string path the
    multiset pin above exercises."""
    import numpy as np

    from ocrd_segment_spark.operators.langid import (
        _known_rows,
        _norm_codes,
        normalize,
    )

    for t in ["the quick fox", "", "  ", "千里之行始於足下", "a", "ÄÖÜ x"]:
        i1, c1 = _known_rows(normalize(t))
        i2, c2 = _known_rows(_norm_codes(t))
        if i1 is None:
            assert i2 is None
        else:
            assert np.array_equal(i1, i2) and np.array_equal(c1, c2)


def test_round6_matches_duckdb_half_away():
    import duckdb

    vals = [-569.5954025, -0.0000005, 0.0000015, -123.4567891, 2.5e-07]
    got = [_round6(v) for v in vals]
    want = [
        r[0]
        for r in duckdb.sql(
            "select round(x, 6) from (values "
            + ", ".join(f"(CAST({v!r} AS DOUBLE))" for v in vals)
            + ") t(x)"
        ).fetchall()
    ]
    assert got == want


def test_seed_corpus_shape():
    """≥5 languages incl. non-Latin scripts; profiles dense over the
    union vocabulary (every gram priced for every language)."""
    assert len(SEED_CORPUS) >= 5
    # four scripts: Cyrillic, Han, kana, Arabic (an RTL abjad)
    assert {"ru", "zh", "ja", "ar"} <= set(SEED_CORPUS)
    rows = train_profiles()
    langs = {l for _, l, _ in rows}
    vocab = {g for g, _, _ in rows}
    assert len(rows) == len(langs) * len(vocab)


def test_with_lang_ngram_operator(spark):
    df = spark.createDataFrame(
        [(1, "the children were playing near the old house"),
         (2, "die kinder spielten in der nähe des alten hauses"),
         (3, "дети играли возле старого дома"),
         (4, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_lang_ngram(df).collect()}
    assert rows[1]["pred_lang"] == "en"
    assert rows[2]["pred_lang"] == "de"
    assert rows[3]["pred_lang"] == "ru"
    assert rows[4]["pred_lang"] == UND and rows[4]["lang_logp"] is None
    # input columns pass through
    assert rows[1]["text"].startswith("the children")


def test_corpus_job_dropped_lang_multilingual(spark, tmp_path):
    """corpus_job's --langs drop decisions route through the REAL
    classifier (round-3 task 2): a mixed en/de/ru page set with only
    'en' kept must drop exactly the non-English pages."""
    from jobs.corpus_job import build_corpus

    texts = {
        "en0": "the children were playing in the garden near the river all afternoon",
        "en1": "she opened the window and watched the quiet street below the house",
        "de0": "die kinder spielten den ganzen nachmittag im garten am fluss",
        "ru0": "дети играли в саду у реки весь день после обеда",
    }
    pages = [
        (url, f"<html><body><p>{t}</p></body></html>".encode())
        for url, t in texts.items()
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(pages, "url string, html binary").write.parquet(src)
    funnel = build_corpus(
        spark,
        src,
        str(tmp_path / "corpus"),
        min_quality=0.0,
        min_tokens=0,
        langs=["en"],
    )
    assert funnel["pages"] == 4
    assert funnel["dropped_lang"] == 2
    assert funnel["corpus_docs"] == 2
    kept = {
        r["url"]: r["pred_lang"]
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    assert set(kept) == {"en0", "en1"}
    assert set(kept.values()) == {"en"}


def test_lang_in_extraction_pass_equals_chained_operator(spark):
    """extract_pages(lang_id=True) — the single-python-stage job form —
    must be value-identical to chaining with_lang_ngram after a plain
    extraction (both map the same frozen score_document)."""
    from ocrd_segment_spark.fixtures import pages_pandas
    from ocrd_segment_spark.pipeline import extract_pages

    pages = spark.createDataFrame(pages_pandas(120)).select("url", "html")
    fused = {
        r["url"]: (r["pred_lang"], r["lang_logp"])
        for r in extract_pages(pages, lang_id=True).collect()
    }
    chained = {
        r["url"]: (r["pred_lang"], r["lang_logp"])
        for r in with_lang_ngram(
            extract_pages(pages), text_col="extracted_text"
        ).collect()
    }
    assert fused == chained and len(fused) == 120
    # schema: the fused form appends exactly the two lang fields
    cols = extract_pages(pages, lang_id=True).columns
    assert cols == ["url", "extracted_text", "region_spans", "lineage",
                    "pred_lang", "lang_logp"]


def test_scores_stable_across_hash_seeds():
    """No dict/set iteration order leaks into the model or the fold
    (fresh interpreters, different PYTHONHASHSEED)."""
    import os
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, {!r}); "
        "from ocrd_segment_spark.operators.langid import score_document; "
        "print(score_document('the children were playing near the old house'))"
    ).format(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    outs = set()
    for seed in ("0", "31337"):
        r = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True, text=True, timeout=120,
            env=dict(os.environ, PYTHONHASHSEED=seed),
        )
        assert r.returncode == 0, r.stderr[-500:]
        outs.add(r.stdout.strip())
    assert len(outs) == 1


def test_heldout_corpus_accuracy_and_abstention():
    """MEASURED quality of the frozen model on HELDOUT_CORPUS
    (sentences absent from SEED_CORPUS; nl/tr/ko are OUTSIDE the
    inventory). The model and fixture are both frozen, so every count
    is deterministic and pinned EXACTLY; the floors state the quality
    bar those exact values clear (round-4 verdict task 2)."""
    from ocrd_segment_spark.operators.langid import (
        DEFAULT_MARGIN,
        HELDOUT_CORPUS,
        SEED_CORPUS,
        UND,
    )

    in_inventory = set(SEED_CORPUS)
    seed_sents = {s for sents in SEED_CORPUS.values() for s in sents}
    assert not seed_sents & {
        s for sents in HELDOUT_CORPUS.values() for s in sents
    }, "held-out fixture must not overlap the training corpus"

    # pure argmax (margin=None — the standing lang_id_ngram contract):
    # perfect on in-inventory held-out, confident misbins on the rest
    argmax_ok = sum(
        1
        for lang in in_inventory
        for s in HELDOUT_CORPUS[lang]
        if score_document(s)[0] == lang
    )
    assert argmax_ok == 44  # 44/44
    misbinned = [
        score_document(s)[0]
        for lang in ("nl", "tr", "ko")
        for s in HELDOUT_CORPUS[lang]
    ]
    assert UND not in misbinned  # every out-of-inventory doc misbinned

    # with the frozen step-6 margin: small in-inventory cost, most
    # out-of-inventory routed to 'und' — Korean (zero script coverage
    # beyond the space gram) abstains on ALL sentences
    inv_preds = {
        (lang, i): score_document(s, margin=DEFAULT_MARGIN)[0]
        for lang in in_inventory
        for i, s in enumerate(HELDOUT_CORPUS[lang])
    }
    inv_ok = sum(1 for (lang, _), p in inv_preds.items() if p == lang)
    assert inv_ok == 41 and inv_ok / 44 >= 0.9
    out_preds = [
        score_document(s, margin=DEFAULT_MARGIN)[0]
        for lang in ("nl", "tr", "ko")
        for s in HELDOUT_CORPUS[lang]
    ]
    assert out_preds.count(UND) == 8 and out_preds.count(UND) / 12 >= 0.6
    assert all(
        score_document(s, margin=DEFAULT_MARGIN) == (UND, None)
        for s in HELDOUT_CORPUS["ko"]
    )
    # abstention returns (UND, None) — uniform with the no-evidence path
    assert all(
        p == UND or p in in_inventory for p in out_preds + list(inv_preds.values())
    )


def test_margin_none_is_byte_identical_to_pre_round5():
    """margin=None must preserve the EXACT pre-abstention behavior the
    driver-green lang_id_ngram key pins (task-9 key stability)."""
    for text, _ in HELD_OUT:
        assert score_document(text) == score_document(text, margin=None)
    # a clear-margin doc is unaffected by the margin rule
    text = HELD_OUT[0][0]
    assert score_document(text, margin=0.01) == score_document(text)


def test_lang_margin_threads_through_extraction(spark):
    """lang_margin reaches the fused extract_pages scoring path: an
    absurdly large margin abstains every page; the default (None)
    keeps pure argmax."""
    from ocrd_segment_spark.operators.langid import UND
    from ocrd_segment_spark.pipeline import extract_pages

    rows = [("u1", b"<html><body><p>the quiet street was empty tonight"
                   b"</p></body></html>")]
    df = spark.createDataFrame(rows, "url string, html binary")
    strict = extract_pages(df, lang_id=True, lang_margin=1e9).collect()[0]
    assert strict["pred_lang"] == UND and strict["lang_logp"] is None
    default = extract_pages(df, lang_id=True).collect()[0]
    assert default["pred_lang"] == "en"


# ---------------------------------------------------------------------------
# unit-grain language spans / mixed-language stats
# ---------------------------------------------------------------------------


def test_unit_langs_score_each_unit(spark):
    from ocrd_segment_spark.operators.langid import (
        SEED_CORPUS,
        with_unit_langs,
    )

    en = SEED_CORPUS["en"][0]
    de = SEED_CORPUS["de"][0]
    d = spark.createDataFrame(
        [(1, f"{en}\n{de}"), (2, en), (3, f"{en}\n\n{de}")],
        "doc_id long, text string",
    )
    out = with_unit_langs(d).collect()
    by = {(r["doc_id"], r["unit_idx"]): r["pred_lang"] for r in out}
    assert by[(1, 0)] == "en" and by[(1, 1)] == "de"
    assert by[(2, 0)] == "en"
    # the empty middle unit of doc 3 is dropped, indices keep the
    # ORIGINAL split positions (posexplode before the filter)
    assert by[(3, 0)] == "en" and by[(3, 2)] == "de"
    assert (3, 1) not in by


def test_lang_mix_stats_majority_and_tie(spark):
    from ocrd_segment_spark.operators.langid import (
        SEED_CORPUS,
        lang_mix_stats,
    )

    en = SEED_CORPUS["en"][0]
    de = SEED_CORPUS["de"][0]
    d = spark.createDataFrame(
        [
            (1, f"{en}\n{en}\n{de}"),  # en majority 2/3
            (2, f"{en}\n{de}"),  # 1-1 tie → lexicographically LARGER
            (3, en),  # single unit
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lang_mix_stats(d).collect()}
    assert rows[1]["majority_lang"] == "en"
    assert rows[1]["n_langs"] == 2 and rows[1]["n_units"] == 3
    assert rows[1]["majority_frac"] == 0.666667
    # frozen tie rule: (count, lang)-max → 'en' > 'de'
    assert rows[2]["majority_lang"] == "en"
    assert rows[2]["majority_frac"] == 0.5
    assert rows[3]["n_langs"] == 1 and rows[3]["majority_frac"] == 1.0


def test_known_rows_matches_counter_multiset():
    """Round-6 vectorized gram counting (_known_rows) must reproduce
    the Counter(_grams(norm)) multiset restricted to the vocabulary,
    in ascending-gram order — the frozen fold's precondition."""
    import random

    from collections import Counter

    from ocrd_segment_spark.operators.langid import (
        _grams,
        _known_rows,
        _scorer_matrix,
        _scorer_tables,
        normalize,
    )

    langs, model = _scorer_tables()
    grams_sorted = sorted(model)
    rng = random.Random(13)
    alphabet = "abcdefgh 千里足 АБвгд ابجد \t\n.,!?é\U0001F600"
    texts = ["", "a", "ab", " \t ", "x" * 300] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 200)))
        for _ in range(300)
    ]
    for t in texts:
        norm = normalize(t)
        c = Counter(_grams(norm))
        expect = [
            (i, c[g]) for i, g in enumerate(grams_sorted) if c.get(g)
        ]
        idx, cnt = _known_rows(norm)
        got = [] if idx is None else list(zip(idx.tolist(), cnt.tolist()))
        assert got == expect, (t, got[:5], expect[:5])


def test_score_document_scales_linearly_in_length():
    """Documents of n and 4n characters, both past the 512-char array
    cutover: the time ratio stays near 4 (a quadratic pass gives 16).
    Timed like tests/test_kernel.py::test_extract_scales_linearly_in_
    candidates: each attempt times both sizes interleaved, best of 3,
    with the collector paused; the best of three attempts must pass.
    One timing is 10 calls, so a sub-millisecond call is not lost in
    timer noise."""
    import gc
    import time

    held_out = " ".join(s for s, _ in HELD_OUT)
    docs = [(held_out * (n // len(held_out) + 1))[:n] for n in (2000, 8000)]
    ratios = []
    gc.disable()
    try:
        for _ in range(3):
            best = [float("inf")] * 2
            for _ in range(3):
                for k, doc in enumerate(docs):
                    t0 = time.perf_counter()
                    for _ in range(10):
                        score_document(doc)
                    best[k] = min(best[k], time.perf_counter() - t0)
            ratios.append(best[1] / best[0])
            if ratios[-1] <= 5:
                break
    finally:
        gc.enable()
    assert min(ratios) <= 5, ratios
