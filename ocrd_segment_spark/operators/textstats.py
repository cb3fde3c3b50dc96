"""Reusable text-analysis operators for the training-data pipeline:
tokenization, quality scoring, language-id — the library form of the
contract queries (quality_score / lang_id_heuristic / token_count),
so jobs can compose them without re-writing the expressions. All pure
JVM-side column math; one tokenize pass per row.

Frozen semantics (must stay in lockstep with the contract oracles):
- tokens: whitespace split, empties dropped;
- quality = 0.4·min(n_tokens/100, 1) + 0.6·(1 − short_ratio), where
  short tokens have length ≤ 3, rounded to 6 — double literals only
  (bare ``1.0`` in selectExpr parses as DECIMAL, the round-1 typed-
  hash lesson);
- lang-id: 'th' vs 'er' digram frequency → en/de (an honest toy — the
  regexp_count + argmax STRUCTURE is the operator; swap the digram
  table for a real corpus model on a cluster).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from ..pystage import map_rows, parallelism_floor, prepare_worker_task


def tokens_col(text_col: str = "text") -> Column:
    """Whitespace tokens, empties dropped. Splits on the ``\\s`` CLASS,
    not the space char — extraction output joins regions with '\\n'
    (config.region_separator), so a space-only split would merge the
    last token of one region with the first of the next and skew every
    downstream count."""
    return F.expr(f"filter(split({text_col}, '\\\\s'), x -> x != '')")


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add (n_tokens, short_ratio, quality) columns. Tokenizes once
    per row (interpreted HOFs have no CSE — materialize, then derive)."""
    toked = df.withColumn("_toks", tokens_col(text_col))
    stats = toked.withColumn(
        "n_tokens", F.expr("cast(size(_toks) as bigint)")
    ).withColumn(
        "_n_short", F.expr("size(filter(_toks, t -> length(t) <= 3))")
    )
    # empty documents (parse failures, media-only pages): short_ratio
    # 1.0 / quality 0.0 rather than an ANSI divide-by-zero — a no-op
    # for non-empty rows, so the contract oracle values are unchanged
    return (
        stats.withColumn(
            "short_ratio",
            F.expr(
                "CASE WHEN n_tokens = 0 THEN 1.0D"
                " ELSE round(_n_short * 1.0D / n_tokens, 6) END"
            ),
        )
        .withColumn(
            "quality",
            F.expr(
                "CASE WHEN n_tokens = 0 THEN 0.0D"
                " ELSE round(0.4D * least(n_tokens / 100.0D, 1.0D)"
                " + 0.6D * (1.0D - _n_short * 1.0D / n_tokens), 6) END"
            ),
        )
        .drop("_toks", "_n_short")
    )


def lang_id_col(text_col: str = "text") -> Column:
    """Digram-frequency language id (en/de toy classifier). SUPERSEDED
    for real routing by operators/langid.with_lang_ngram (11-language
    char 1+2-gram profiles) — kept because the contract key
    ``lang_id_heuristic`` pins this exact structure (regexp_count +
    argmax as pure column math) and keys stay stable across rounds."""
    return F.when(
        F.expr(f"regexp_count({text_col}, 'th') >= regexp_count({text_col}, 'er')"),
        F.lit("en"),
    ).otherwise(F.lit("de"))


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("pred_lang", lang_id_col(text_col))


# ---------------------------------------------------------------------------
# Repetition / boilerplate quality signals (Gopher-style rules)
# ---------------------------------------------------------------------------
# Public heuristics from the large-LM data-curation literature (Gopher /
# MassiveText, C4): natural text is penalized for duplicated lines and
# over-frequent n-grams, degenerate symbol runs, and non-alphabetic
# tokens. The reference has no corpus-quality surface (it is page-
# complete); this is the training-data-pipeline operator the engine
# adds on top. Frozen semantics (contract oracle states the same math):
#
# - lines: split on '\n', empties dropped (extraction output joins
#   regions with '\n' — config.region_separator);
# - dup_line_fraction      = 1 - distinct_lines / lines
# - dup_line_char_fraction = chars in 2nd+ occurrences / total line chars
# - mean_word_length       = token chars / tokens
# - symbol_word_ratio      = (count '#' + count '...' + count '…') / tokens
# - alpha_word_fraction    = tokens containing [A-Za-z] / tokens
# - dup_2gram_fraction     = 1 - distinct adjacent word-2-grams / 2-grams
# all doubles rounded to 6; zero-denominator cases pinned (no ANSI
# divide error): no lines/tokens → ratios 0.0, except alpha_word_
# fraction → 1.0 (an empty doc has no non-alpha evidence).
#
# Everything here is pure column math — narrow, zero shuffle, evaluated
# inside the scan stage. The one counting signal that genuinely needs
# an aggregation (top single 2-gram multiplicity) is the separate
# explode-shaped ``top_ngram_stats``.


def with_repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add the narrow Gopher-style signal columns. Intermediates are
    materialized as columns (interpreted HOFs have no CSE — the
    measured trap), then dropped."""
    d = (
        df.withColumn("_lines", F.expr(f"filter(split({text_col}, '\\n'), x -> x != '')"))
        .withColumn("_dlines", F.expr("array_distinct(_lines)"))
        .withColumn("_toks", tokens_col(text_col))
        .withColumn("_n_toks", F.expr("size(_toks)"))
        .withColumn(
            "_grams",
            F.expr(
                "CASE WHEN _n_toks < 2 THEN array()"
                " ELSE zip_with(slice(_toks, 1, _n_toks - 1),"
                "               slice(_toks, 2, _n_toks - 1),"
                "               (a, b) -> concat(a, ' ', b)) END"
            ),
        )
        .withColumn("_lchars", F.expr("aggregate(_lines, 0L, (a, x) -> a + length(x))"))
        .withColumn("_dchars", F.expr("aggregate(_dlines, 0L, (a, x) -> a + length(x))"))
    )
    out = (
        d.withColumn("n_lines", F.expr("cast(size(_lines) as bigint)"))
        .withColumn("n_tokens", F.expr("cast(_n_toks as bigint)"))
        .withColumn(
            "dup_line_fraction",
            F.expr(
                "CASE WHEN size(_lines) = 0 THEN 0.0D ELSE"
                " round((size(_lines) - size(_dlines)) * 1.0D / size(_lines), 6) END"
            ),
        )
        .withColumn(
            "dup_line_char_fraction",
            F.expr(
                "CASE WHEN _lchars = 0 THEN 0.0D ELSE"
                " round((_lchars - _dchars) * 1.0D / _lchars, 6) END"
            ),
        )
        .withColumn(
            "mean_word_length",
            F.expr(
                "CASE WHEN _n_toks = 0 THEN 0.0D ELSE"
                " round(aggregate(_toks, 0L, (a, t) -> a + length(t)) * 1.0D / _n_toks, 6) END"
            ),
        )
        .withColumn(
            "symbol_word_ratio",
            F.expr(
                f"CASE WHEN _n_toks = 0 THEN 0.0D ELSE"
                f" round((regexp_count({text_col}, '#')"
                f" + regexp_count({text_col}, '\\\\.\\\\.\\\\.')"
                f" + regexp_count({text_col}, '…')) * 1.0D / _n_toks, 6) END"
            ),
        )
        .withColumn(
            "alpha_word_fraction",
            F.expr(
                "CASE WHEN _n_toks = 0 THEN 1.0D ELSE"
                " round(size(filter(_toks, t -> t rlike '[A-Za-z]')) * 1.0D / _n_toks, 6) END"
            ),
        )
        .withColumn(
            "dup_2gram_fraction",
            F.expr(
                "CASE WHEN size(_grams) = 0 THEN 0.0D ELSE"
                " round((size(_grams) - size(array_distinct(_grams))) * 1.0D"
                " / size(_grams), 6) END"
            ),
        )
    )
    return out.drop("_lines", "_dlines", "_toks", "_n_toks", "_grams", "_lchars", "_dchars")


def top_ngram_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """(id, n_ngrams, top_ngram_count, top_ngram_fraction): multiplicity
    of the single most frequent adjacent word-n-gram — the Gopher
    "fraction in the most common n-gram" rule (count-based variant: no
    argmax content, so ties cannot make the result nondeterministic).

    Shape at scale: explode → two hash aggregations. The first groups
    on (id, gram) — fine-grained keys, partial map-side combine; the
    second on id. No corpus-wide key exists anywhere, so no skew:
    a viral gram is still spread across its documents. Documents with
    fewer than n tokens produce no row (left-join + coalesce 0
    downstream if every doc must appear)."""
    toked = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")).withColumn(
        "_toks", tokens_col("text")
    )
    win = n - 1
    grams = toked.select(
        "id",
        F.explode(
            F.expr(
                f"CASE WHEN size(_toks) <= {win} THEN array()"
                f" ELSE zip_with(slice(_toks, 1, size(_toks) - {win}),"
                f"               slice(_toks, {n}, size(_toks) - {win}),"
                f"               (a, b) -> concat(a, ' ', b)) END"
            )
        ).alias("gram"),
    )
    per_gram = grams.groupBy("id", "gram").agg(F.count("*").alias("cnt"))
    return per_gram.groupBy("id").agg(
        F.sum("cnt").alias("n_ngrams"),
        F.max("cnt").alias("top_ngram_count"),
        F.round(F.max("cnt") * F.lit(1.0) / F.sum("cnt"), 6).alias("top_ngram_fraction"),
    )


# the columns with_repetition_signals ADDS (n_tokens is re-derived
# value-exact and may pre-exist) — the set jobs drop after deciding
REPETITION_SIGNAL_COLS = (
    "n_lines", "dup_line_fraction", "dup_line_char_fraction",
    "mean_word_length", "symbol_word_ratio", "alpha_word_fraction",
    "dup_2gram_fraction",
)


def with_gopher_passes(df: DataFrame, text_col: str = "text", **thresholds) -> DataFrame:
    """signals → gopher_filter → drop the signal columns: the one-call
    form both jobs use (df + a single ``passes`` boolean). Keyword
    thresholds pass through to :func:`gopher_filter`."""
    return gopher_filter(
        with_repetition_signals(df, text_col=text_col), **thresholds
    ).drop(*REPETITION_SIGNAL_COLS)


def gopher_filter(
    df: DataFrame,
    *,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_length: float = 3.0,
    max_mean_word_length: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_fraction: float = 0.8,
    max_dup_line_fraction: float = 0.3,
    max_dup_2gram_fraction: float = 0.2,
) -> DataFrame:
    """Add a ``passes`` flag from the signal columns (call
    ``with_repetition_signals`` first). Thresholds default to the
    published Gopher rules; tune per corpus. Pure predicate — stays in
    the same narrow stage as the signals."""
    return df.withColumn(
        "passes",
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("mean_word_length") >= min_mean_word_length)
        & (F.col("mean_word_length") <= max_mean_word_length)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("alpha_word_fraction") >= min_alpha_word_fraction)
        & (F.col("dup_line_fraction") <= max_dup_line_fraction)
        & (F.col("dup_2gram_fraction") <= max_dup_2gram_fraction),
    )


def with_char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``char_entropy``: Shannon entropy (bits) of the character
    distribution — the degenerate-text signal (keyboard mash, repeated
    fills) the token-level rules miss. Computed by the sorted-runs
    trick: sort the characters, find run boundaries from separator
    positions, fold -(k/n)·log2(k/n) over the runs IN SORTED-CHARACTER
    ORDER — the fold order is part of the frozen semantics because
    float addition is not associative and the DuckDB oracle must sum
    in the same order. O(n log n) per row, pure column math, zero
    shuffle. abs() pins the -0.0 a single-character document produces
    (IEEE -0.0 vs 0.0 hash differently across engines).

    The intermediates (sorted chars, run boundaries) are bound through
    single-element ``transform`` lambda VARIABLES, not chained
    withColumns: CollapseProject inlines column intermediates into
    every use site, and in plans without whole-stage codegen (a
    streaming microbatch after a Python map stage) interpreted evaluation has
    no CSE — the chained form re-sorted the document once PER
    CHARACTER there (~0.2 s/page, review-found via a hung stream; the
    lambda-bound form is the same trap fix as functions/sublevels)."""
    s_body = (
        # s = sorted chars (bound once); b = run starts (bound once).
        # size(s)=0 is unreachable today (the length-0 CASE runs
        # first) but must stay SAFE: sequence(1, 0) yields the
        # DESCENDING [1, 0] and element_at(s, 0) would throw — the
        # guard keeps the documented land-safely property of the old
        # column-chained form
        "CASE WHEN size(s) = 0 THEN 0.0D ELSE "
        "get(transform(array("
        " filter(sequence(1, size(s)),"
        "        i -> i = 1 or element_at(s, i) != element_at(s, i - 1))"
        "), b ->"
        " round(abs(-aggregate("
        "   zip_with(b, concat(slice(b, 2, size(b) - 1), array(size(s) + 1)),"
        "            (a, e) -> e - a),"
        "   0.0D,"
        "   (a, k) -> a + (k * 1.0D / size(s)) * log2(k * 1.0D / size(s))"
        " )), 6)"
        "), 0) END"
    )
    return df.withColumn(
        "char_entropy",
        F.expr(
            f"CASE WHEN {text_col} IS NULL THEN cast(null as double)"
            f" WHEN length({text_col}) = 0 THEN 0.0D"
            f" ELSE get(transform(array(array_sort(split({text_col}, ''))),"
            f" s -> {s_body}), 0) END"
        ),
    )


# character-bigram expression shared by model building and scoring
_BIGRAMS = (
    "CASE WHEN length({col}) < 2 THEN array() ELSE"
    " zip_with(slice(split({col}, ''), 1, length({col}) - 1),"
    "          slice(split({col}, ''), 2, length({col}) - 1),"
    " (a, b) -> concat(a, b)) END"
)


def bigram_lm_model(reference: DataFrame, text_col: str = "text") -> DataFrame:
    """(bg, cnt): character-bigram counts of a reference corpus — the
    toy stand-in for CCNet's KenLM: the STRUCTURE (train a model on a
    trusted slice, score the crawl by how surprising it looks) is the
    operator; swap in a real LM per-language on a cluster. The model
    is bounded by charset² regardless of corpus size."""
    return (
        reference.selectExpr(f"explode({_BIGRAMS.format(col=text_col)}) as bg")
        .groupBy("bg")
        .agg(F.count("*").alias("cnt"))
    )


def with_lm_score(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, bits_per_bigram): average add-one-smoothed surprisal
    of each document under the reference bigram model — high bits =
    unlike the reference (gibberish, wrong language, encoding junk);
    the CCNet-style perplexity filter signal.

    Scale shape: the model and its 1-row totals are broadcast (charset²
    rows — never corpus-sized, NO driver-side collect). The corpus side
    is one explode_outer pass (sub-2-char docs keep a null-bigram row
    and score NULL — no second lineage walk) into a per-(doc, bigram)
    COUNT — map-side combinable, so per-doc state is bounded by the
    charset², never by document length. The per-doc total is then a
    fold of count·surprisal over the bigram-SORTED distinct list:
    float addition is not associative, and the repo invariant is that
    cross-engine double sums fold in a frozen order (the DuckDB oracle
    sorts and folds identically)."""
    totals = model.agg(
        F.sum("cnt").alias("_t"), F.count("*").alias("_v")
    )
    per_bg = (
        docs.selectExpr(
            f"{id_col} as id",
            f"explode_outer({_BIGRAMS.format(col=text_col)}) as bg",
        )
        .groupBy("id", "bg")
        .agg(F.count("*").alias("n_local"))
        .join(F.broadcast(model), "bg", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "_s",
            F.expr(
                "CASE WHEN bg IS NULL THEN cast(null as double) ELSE"
                " -log2((coalesce(cnt, 0) + 1.0D) / (_t * 1.0D + _v + 1.0D)) END"
            ),
        )
    )
    return (
        per_bg.groupBy("id")
        .agg(
            F.expr(
                "sort_array(collect_list(CASE WHEN bg IS NULL THEN null"
                " ELSE struct(bg, n_local, _s) END))"
            ).alias("_vals")
        )
        .select(
            F.col("id").alias(id_col),
            F.expr(
                "CASE WHEN size(_vals) = 0 THEN cast(null as double) ELSE"
                " round(aggregate(_vals, 0.0D, (a, x) -> a + x.n_local * x._s)"
                " / aggregate(_vals, 0L, (a, x) -> a + x.n_local), 6) END"
            ).alias("bits_per_bigram"),
        )
    )




def bigram_lm_models_by_lang(
    reference: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """(lang, bg, cnt): per-language character-bigram models — the
    CCNet-faithful form (CCNet's filter is a per-language KenLM, not
    one global model; round-3 task 3). One hash-aggregation, partials
    combine map-side; each language's model stays charset²-bounded so
    the whole table is broadcastable regardless of reference size."""
    return (
        reference.selectExpr(
            f"{lang_col} as lang",
            f"explode({_BIGRAMS.format(col=text_col)}) as bg",
        )
        .groupBy("lang", "bg")
        .agg(F.count("*").alias("cnt"))
    )


def with_lm_score_per_lang(
    docs: DataFrame,
    models: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """(id_col, lang, bits_per_bigram): each document scored under the
    model OF ITS OWN language column (labeled or predicted — pass the
    lang-id output as ``lang_col``). Same frozen semantics as
    :func:`with_lm_score` — add-one smoothing, bigram-SORTED fold —
    plus one rule: a language with NO model rows (an unseen or 'und'
    lang) scores NULL, never the global fallback silently.

    Scale shape mirrors the global scorer: model + per-lang totals
    broadcast (bounded by langs × charset²); corpus side is one
    explode into a per-(doc, lang, bigram) count whose key is no
    coarser than the global form's (lang is functionally dependent on
    the doc), then the doc-keyed fold."""
    totals = models.groupBy("lang").agg(
        F.sum("cnt").alias("_t"), F.count("*").alias("_v")
    )
    per_bg = (
        docs.selectExpr(
            f"{id_col} as id",
            f"{lang_col} as lang",
            f"explode_outer({_BIGRAMS.format(col=text_col)}) as bg",
        )
        .groupBy("id", "lang", "bg")
        .agg(F.count("*").alias("n_local"))
        .join(F.broadcast(models), ["lang", "bg"], "left")
        .join(F.broadcast(totals), ["lang"], "left")
        .withColumn(
            "_s",
            F.expr(
                "CASE WHEN bg IS NULL OR _t IS NULL THEN cast(null as double)"
                " ELSE -log2((coalesce(cnt, 0) + 1.0D)"
                " / (_t * 1.0D + _v + 1.0D)) END"
            ),
        )
    )
    return (
        per_bg.groupBy("id", "lang")
        .agg(
            F.expr(
                "sort_array(collect_list(CASE WHEN bg IS NULL OR _s IS NULL"
                " THEN null ELSE struct(bg, n_local, _s) END))"
            ).alias("_vals")
        )
        .select(
            F.col("id").alias(id_col),
            "lang",
            F.expr(
                "CASE WHEN size(_vals) = 0 THEN cast(null as double) ELSE"
                " round(aggregate(_vals, 0.0D, (a, x) -> a + x.n_local * x._s)"
                " / aggregate(_vals, 0L, (a, x) -> a + x.n_local), 6) END"
            ).alias("bits_per_bigram"),
        )
    )


def collect_lm_surprisal(models: DataFrame) -> tuple[dict, dict]:
    """((lang, bg) -> surprisal, lang -> OOV surprisal): the
    per-language model of :func:`bigram_lm_models_by_lang` collected
    for broadcast into a narrow scoring pass (jobs cannot use the
    relational scorer inline — its doc-keyed aggregation would need a
    join back to the corpus and re-run extraction).

    The deliberate driver ``.collect()`` here is bounded by
    langs × charset² — model-sized, never corpus-sized (the same
    reason IVF centroids collect for broadcast). Surprisals are
    computed ON THE JVM by the same -log2 expression the relational
    scorer uses, so the narrow path multiplies and adds the identical
    doubles — no Python transcendental ever runs (pinned equal to
    with_lm_score_per_lang by tests/test_corpus_quality.py)."""
    totals = models.groupBy("lang").agg(
        F.sum("cnt").alias("_t"), F.count("*").alias("_v")
    )
    rows = (
        models.join(totals, "lang")
        .selectExpr(
            "lang", "bg",
            "-log2((cnt + 1.0D) / (_t * 1.0D + _v + 1.0D)) as s",
            "-log2(1.0D / (_t * 1.0D + _v + 1.0D)) as oov",
        )
        .collect()
    )
    table = {(r["lang"], r["bg"]): r["s"] for r in rows}
    oov = {r["lang"]: r["oov"] for r in rows}
    return table, oov


def with_lm_bits(
    df: DataFrame,
    lm_table: tuple[dict, dict],
    text_col: str = "text",
    lang_col: str = "lang",
    python_parallelism: int | None = None,
) -> DataFrame:
    """Append ``bits_per_bigram`` — the NARROW form of
    :func:`with_lm_score_per_lang` for single-lineage jobs: one
    Arrow-batched scalar pandas UDF over ONLY (text, lang) — the
    other columns (incl. the nested region_spans/lineage structs)
    stay JVM-side instead of round-tripping through Python, which is
    the guide-§4 "pass only the columns the function needs" rule (the
    previous pass-through map stage shipped every column both
    ways). The collected model rides the closure as a broadcast-sized
    constant. Frozen semantics identical to the relational scorer:
    per distinct bigram in SORTED order, fold n·surprisal; divide by
    bigram count; round 6; NULL for sub-2-char docs and for langs
    with no model.

    Implementation (round-6 perf, bit-identical by construction and
    fuzz-pinned by tests/test_corpus_quality.py): the per-doc scorer
    is vectorized the langid way — bigrams pack two codepoints into
    one int64 (cp1 << 21 | cp2, injective: codepoints < 2^21), and
    ``np.unique(return_counts)`` gives the same integer multiset as
    ``Counter`` of the 2-char slices. For EQUAL-LENGTH strings the
    packed-integer order equals lexicographic string order, so the
    sorted distinct keys reproduce ``sorted(Counter)`` exactly, and
    the fold runs as ``np.add.accumulate`` over a 0.0-seeded
    contribution array — accumulate is a strict sequential left fold
    (out[i] = out[i-1] + a[i]), so the per-doc float-op sequence
    (0.0 + n0·s0 + n1·s1 + ...) is bit-identical to the scalar loop,
    including the ±0.0 edge the explicit seed preserves. Measured
    470 → 88 µs/doc on 1 KB docs (5.3×); 20k-case fuzz vs the scalar
    fold: zero mismatches."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    from .langid import _round6

    table, oov = lm_table
    # filled lazily inside the UDF (once per deserialized task closure);
    # the explicit flag keeps an empty LM table from rebuilding per batch
    _bits_arrays_memo: dict = {}
    _bits_built = False

    @pandas_udf("double")
    def _bits(texts: pd.Series, langs: pd.Series) -> pd.Series:
        nonlocal _bits_built
        prepare_worker_task()
        import numpy as np

        # per-lang sorted key/value arrays, built once per worker from
        # the pickled model dict (model-sized, langs × charset²)
        arrays: dict = _bits_arrays_memo
        if not _bits_built:
            per: dict = {}
            for (l, bg), v in table.items():
                per.setdefault(l, []).append(
                    ((ord(bg[0]) << 21) | ord(bg[1]), v)
                )
            for l, items in per.items():
                items.sort()
                arrays[l] = (
                    np.array([k for k, _ in items], dtype=np.int64),
                    np.array([v for _, v in items], dtype=np.float64),
                )
            _bits_built = True
        out = []
        for t, lang in zip(texts, langs):
            t = t if isinstance(t, str) else ""
            if len(t) < 2 or lang not in oov:
                out.append(None)
                continue
            codes = np.frombuffer(
                t.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
            ).astype(np.int64)
            bg = (codes[:-1] << 21) | codes[1:]
            uq, cnt = np.unique(bg, return_counts=True)
            o = oov[lang]
            keys, vals = arrays.get(
                lang, (np.empty(0, dtype=np.int64), np.empty(0))
            )
            if keys.size:
                pos = np.searchsorted(keys, uq).clip(0, keys.size - 1)
                v = np.where(keys[pos] == uq, vals[pos], o)
            else:
                v = np.full(uq.size, o)
            contrib = np.concatenate(((0.0,), cnt * v))
            num = float(np.add.accumulate(contrib)[-1])
            out.append(_round6(num / int(cnt.sum())))
        return pd.Series(pd.array(out, dtype="float64"))

    # guide §4.4: a filter on a UDF-derived column otherwise duplicates
    # the whole ArrowEvalPython below the pushed-down predicate — every
    # surviving row would pay the LM scorer twice (plan-verified)
    _bits = _bits.asNondeterministic()
    return parallelism_floor(df, python_parallelism).withColumn(
        "bits_per_bigram", _bits(F.col(text_col), F.col(lang_col))
    )


def with_compression_cols(
    df: DataFrame,
    text_col: str = "text",
    python_parallelism: int | None = None,
) -> DataFrame:
    """Append ``compression_ratio`` to ``df`` — the single-lineage
    form of :func:`compression_ratio` for jobs (same zlib-level-6
    math, same round/empty-doc pinning, verified equal by pytest).
    One Arrow-batched scalar pandas UDF over ONLY the text column;
    every other column stays JVM-side (guide-§4 column-pruning rule —
    the previous pass-through map stage shipped the nested structs
    through Python both ways)."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        prepare_worker_task()
        import zlib

        ratios = []
        for t in texts:
            b = (t if isinstance(t, str) else "").encode("utf-8")
            ratios.append(
                round(len(zlib.compress(b, 6)) / len(b), 6) if b else 0.0
            )
        return pd.Series(pd.array(ratios, dtype="float64"))

    # guide §4.4: stop the optimizer duplicating the zlib pass around
    # pushed-down filters on keep_compression (plan-verified)
    _ratio = _ratio.asNondeterministic()
    return parallelism_floor(df, python_parallelism).withColumn(
        "compression_ratio", _ratio(F.col(text_col))
    )


def with_ccnet_buckets(
    df: DataFrame,
    bits_col: str = "bits_per_bigram",
    cuts: "tuple[float, float] | None" = None,
    exact: bool = False,
) -> DataFrame:
    """Append ``ccnet_bucket`` ∈ head/middle/tail/unscored: CCNet's
    perplexity partitioning — the corpus splits at the terciles of the
    reference-LM surprisal, 'head' being the most reference-like third
    (CCNet trains on head, treats tail as suspect). Frozen rules: the
    tercile cutoffs are the 1/3 and 2/3 percentiles ROUNDED to 6 (the
    cross-engine comparison then works on round-6 doubles on both
    sides, the repo's double discipline); boundaries are inclusive
    (<=); NULL bits (unmodeled lang, sub-2-char docs) → 'unscored',
    never silently binned.

    Safe-at-scale defaults (round-5; both round-4 'what's wrong' items
    for this operator):

    - cutoffs derive via ``percentile_approx`` (GK sketch, bounded
      executor memory) unless ``exact=True``. The approx error at
      accuracy 10000 is ≤0.01% of rank — bucket assignment shifts only
      for docs within that sliver of the cutoffs, irrelevant for a
      head/middle/tail partitioning. ``exact=True`` buffers the column
      per partition (exact interpolated percentile) and exists for the
      DuckDB oracle, whose quantile_cont has no GK twin — sketch
      merge order is engine-specific, so ONLY the exact path is
      cross-engine reproducible and the contract key pins that path.
    - when cutoffs must be derived (``cuts=None``), ``df`` is
      ``localCheckpoint(eager=True)``-ed first: deriving branches the
      lineage (aggregate + main path), and without materialization an
      uncached expensive upstream — LM scoring, extraction — would
      evaluate twice (plan-tested: tests/test_corpus_quality.py pins
      ONE upstream evaluation via accumulator). The checkpoint holds
      the operator's input on executor storage for the duration — an
      offline partitioning step's trade; callers who already wrote the
      scored table pass ``cuts=`` (or read back the parquet) and skip
      both the branch and the checkpoint."""
    if cuts is not None:
        t1, t2 = cuts
        cuts_df = df.sparkSession.createDataFrame(
            [(float(t1), float(t2))], "_t1 double, _t2 double"
        )
    else:
        df = df.localCheckpoint(eager=True)
        if exact:
            t1_expr = f"round(percentile({bits_col}, cast(1 as double)/3), 6)"
            t2_expr = f"round(percentile({bits_col}, cast(2 as double)/3), 6)"
        else:
            t1_expr = (
                f"round(percentile_approx({bits_col},"
                " cast(1 as double)/3, 10000), 6)"
            )
            t2_expr = (
                f"round(percentile_approx({bits_col},"
                " cast(2 as double)/3, 10000), 6)"
            )
        cuts_df = df.agg(
            F.expr(t1_expr).alias("_t1"), F.expr(t2_expr).alias("_t2")
        )
    return (
        df.crossJoin(F.broadcast(cuts_df))
        .withColumn(
            "ccnet_bucket",
            F.expr(
                f"CASE WHEN {bits_col} IS NULL THEN 'unscored'"
                f" WHEN {bits_col} <= _t1 THEN 'head'"
                f" WHEN {bits_col} <= _t2 THEN 'middle'"
                f" ELSE 'tail' END"
            ),
        )
        .drop("_t1", "_t2")
    )


def corpus_card(
    df: DataFrame,
    lang_col: str = "pred_lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-language dataset-card row (public practice: dataset cards /
    datasheets ship exactly these aggregates): document count,
    whitespace-token and character volumes, mean and exact median
    document length — the summary a curation run publishes next to the
    corpus it writes.

    One hash aggregation on the language key (a handful of groups;
    partials combine map-side; the exact median's per-group sorted
    digest is bounded by the group's doc count — at true corpus scale
    swap in percentile_approx, which the operator deliberately does
    NOT do silently: exactness is part of the card's contract here)."""
    # the ONE frozen ASCII whitespace class (operators/bpe defines it
    # with the \v-vs-\x0B cross-engine trap documented) — not \s
    from .bpe import WS_CLASS_SPARK

    toked = df.select(
        F.col(lang_col).alias("lang"),
        F.expr(f"cast(length({text_col}) as bigint)").alias("n_chars"),
        F.expr(
            f"cast(size(filter(split(coalesce({text_col}, ''),"
            f" '{WS_CLASS_SPARK}'),"
            f" x -> x != '')) as bigint)"
        ).alias("n_tokens"),
    )
    return toked.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("median_chars"),
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    python_parallelism: int | None = None,
) -> DataFrame:
    """(id_col, n_bytes, compressed_bytes, compression_ratio):
    zlib-level-6 compressed size over raw utf-8 size — the Dolma-style
    repetition signal (heavily repetitive text compresses far below
    natural text; ~0.3-0.6 is normal prose, <0.2 is a repetition red
    flag, >0.9 is already-compressed/binary junk).

    This is the engine's one deliberately-Python quality signal: zlib
    is not expressible in SQL, so there is no DuckDB oracle — the
    contract entry is rows-only and the exact values are pinned by
    pytest against the same zlib. One Arrow-batched pystage.map_rows
    pass (never a per-row UDF); batches stay narrow, zero shuffle."""
    import zlib

    from pyspark.sql import types as T

    def row(t):
        b = (t if isinstance(t, str) else "").encode("utf-8")
        n, c = len(b), len(zlib.compress(b, 6))
        return n, c, round(c / n, 6) if n else 0.0

    return map_rows(
        df, (id_col,), (text_col,), row,
        [
            T.StructField("n_bytes", T.LongType(), False),
            T.StructField("compressed_bytes", T.LongType(), False),
            T.StructField("compression_ratio", T.DoubleType(), False),
        ],
        python_parallelism,
    )
