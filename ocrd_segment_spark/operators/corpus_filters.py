"""The standard corpus quality-filter chain, defined ONCE.

jobs/corpus_job.py (batch) and jobs/stream_job.py (streaming) apply
the same drop stages — quality, language, Gopher rules, character
entropy, reference-LM surprisal, compression ratio, the learned
quality classifier, and (round 5) the script-mix screen. Review pass 3
found the chain hand-mirrored in both jobs, which is exactly how the
stream fell behind the batch job by a whole round of stages; this
module is the single source of the stage semantics.

``with_keep_flags`` APPENDS boolean ``keep_*`` columns and never
drops rows: the batch job needs the individual flags (its funnel
counters ride the write as Observations over the precedence chain),
while the streaming job conjoins them into one filter. Signal columns
(char_entropy, bits_per_bigram, compression_ratio, n_tokens, quality,
…) stay on the rows when their stage ran, so drops are auditable.

Every stage is narrow (column math, or a scalar pandas_udf column for
the LM and compression signals: textstats.with_lm_bits /
with_compression_cols), so the chain is streaming-legal by
construction. The per-language LM table must be COLLECTED by the
caller (:func:`reference_lm_table`) — in a streaming job that
collection has to happen before the query starts, not inside the
per-microbatch transform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

KEEP_COLS = (
    "keep_quality", "keep_lang", "keep_gopher",
    "keep_entropy", "keep_script",
    "keep_lm", "keep_compression", "keep_clf",
)


def reference_lm_table(
    spark, lm_ref_path: str | None, lm_max_bits: float | None
) -> tuple[dict, dict] | None:
    """The ``lm_table`` of :func:`with_keep_flags`: per-language
    reference char-bigram LMs (CCNet shape) trained from the trusted
    ``(text, lang)`` documents at ``lm_ref_path``, then COLLECTED —
    model-sized (langs × charset²), never corpus-sized. None when the
    LM stage is off: it runs only with both keywords set."""
    from .textstats import bigram_lm_models_by_lang, collect_lm_surprisal

    if lm_ref_path is None or lm_max_bits is None:
        return None
    return collect_lm_surprisal(
        bigram_lm_models_by_lang(spark.read.parquet(lm_ref_path))
    )


def with_keep_flags(
    extracted: DataFrame,
    *,
    min_quality: float = 0.5,
    min_tokens: int = 5,
    langs: list[str] | None = None,
    gopher: bool = False,
    entropy_min: float | None = None,
    lm_table: tuple[dict, dict] | None = None,
    lm_max_bits: float | None = None,
    max_compression: float | None = None,
    quality_clf: bool = False,
    script_screen: bool = False,
    python_parallelism: int | None = None,
    early_filter: bool = False,
) -> DataFrame:
    """Score ``extracted`` (must already carry ``pred_lang`` — run
    extraction with ``lang_id=True``) and append the eight ``keep_*``
    flags. Stages that are off contribute a constant-true flag, so the
    flag schema is fixed regardless of configuration.

    ``early_filter=True`` ADDITIONALLY drops failing rows right after
    each flag is computed — for callers that don't need the flags of
    dropped rows (the streaming job): the expensive Python stages (LM,
    compression) then only see survivors of the cheap filters, which
    Catalyst cannot arrange itself (predicates don't push through
    MapInPandas black boxes — review-pass-4 finding). The batch job
    keeps ``early_filter=False`` because its funnel Observations count
    the dropped rows per stage."""
    from .textstats import with_gopher_passes, with_quality

    def _gate(df: DataFrame, flag: str) -> DataFrame:
        return df.filter(F.col(flag)) if early_filter else df

    scored = with_quality(extracted, text_col="extracted_text")
    scored = scored.withColumn(
        "keep_quality",
        (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens),
    )
    scored = _gate(scored, "keep_quality")
    if langs:
        scored = scored.withColumn("keep_lang", F.col("pred_lang").isin(langs))
    else:
        scored = scored.withColumn("keep_lang", F.lit(True))
    scored = _gate(scored, "keep_lang")
    if gopher:
        # pure column math — stays inside the same narrow pass as
        # quality scoring (no join: a url-keyed self-join here would
        # branch the lineage and re-run the mapInPandas extraction).
        # n_tokens is re-derived value-exact by the signals.
        scored = with_gopher_passes(
            scored, text_col="extracted_text"
        ).withColumnRenamed("passes", "keep_gopher")
    else:
        scored = scored.withColumn("keep_gopher", F.lit(True))
    scored = _gate(scored, "keep_gopher")
    if entropy_min is not None:
        from .textstats import with_char_entropy

        scored = with_char_entropy(scored, text_col="extracted_text")
        scored = scored.withColumn(
            "keep_entropy", F.col("char_entropy") >= entropy_min
        )
    else:
        scored = scored.withColumn("keep_entropy", F.lit(True))
    scored = _gate(scored, "keep_entropy")
    if script_screen:
        # script-mix spam screen (operators/scriptmix): mixed-script
        # documents drop (SEO cloaking / homoglyph spam / wrong-decode
        # signal; the 20-letter floor keeps fragments safe). Pure JVM
        # regexp_count probes placed BEFORE the Python LM/compression
        # stages — in early_filter mode spam must never pay a
        # mapInPandas pass just to be dropped by nine regex probes.
        # main_script / main_fraction stay as audit signals; the
        # per-script counts and the derivable flags are dropped.
        from .scriptmix import SCRIPT_CLASSES, with_script_mix

        scored = with_script_mix(scored, text_col="extracted_text")
        scored = scored.withColumn(
            "keep_script", ~F.col("mixed_script")
        ).drop(
            "mixed_script",
            "n_letters",
            "confusable_pairs",
            *[f"n_{name}" for name, _ in SCRIPT_CLASSES],
        )
    else:
        scored = scored.withColumn("keep_script", F.lit(True))
    scored = _gate(scored, "keep_script")
    if lm_table is not None and lm_max_bits is not None:
        from .textstats import with_lm_bits

        scored = with_lm_bits(
            scored,
            lm_table,
            text_col="extracted_text",
            lang_col="pred_lang",
            python_parallelism=python_parallelism,
        )
        # no evidence (NULL bits: unmodeled lang, sub-2-char) → KEEP
        scored = scored.withColumn(
            "keep_lm",
            F.col("bits_per_bigram").isNull()
            | (F.col("bits_per_bigram") <= lm_max_bits),
        )
    else:
        scored = scored.withColumn("keep_lm", F.lit(True))
    scored = _gate(scored, "keep_lm")
    if max_compression is not None:
        from .textstats import with_compression_cols

        scored = with_compression_cols(
            scored,
            text_col="extracted_text",
            python_parallelism=python_parallelism,
        )
        scored = scored.withColumn(
            "keep_compression", F.col("compression_ratio") <= max_compression
        )
    else:
        scored = scored.withColumn("keep_compression", F.lit(True))
    scored = _gate(scored, "keep_compression")
    if quality_clf:
        # learned keep/drop boundary (operators/quality_clf): pure JVM
        # column math in the same narrow pass; zero-token docs have no
        # evidence (NULL) and are KEPT — the bits_per_bigram rule. The
        # clf_logit signal column rides the output for auditability;
        # clf_keep is derivable (logit >= 0) and dropped.
        from .quality_clf import with_quality_classifier

        scored = with_quality_classifier(scored, text_col="extracted_text")
        scored = scored.withColumn(
            "keep_clf",
            F.col("clf_keep").isNull() | F.col("clf_keep"),
        ).drop("clf_keep")
    else:
        scored = scored.withColumn("keep_clf", F.lit(True))
    return _gate(scored, "keep_clf")


def keep_all() -> F.Column:
    """The conjunction of every stage flag (the streaming filter)."""
    out = F.lit(True)
    for c in KEEP_COLS:
        out = out & F.col(c)
    return out
