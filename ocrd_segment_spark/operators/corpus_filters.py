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
while the streaming job drops failing rows after each stage
(``early_filter``). Signal columns
(char_entropy, bits_per_bigram, compression_ratio, n_tokens, quality,
…) stay on the rows when their stage ran, so drops are auditable.

Every stage is narrow (column math, or a scalar pandas_udf column for
the LM and compression signals: textstats.with_lm_bits /
with_compression_cols), so the chain is streaming-legal by
construction. The per-language LM table must be COLLECTED by the
caller (:func:`reference_lm_table`) — in a streaming job that
collection has to happen before the query starts, not inside the
per-microbatch transform.

:func:`page_scorer` composes the whole per-page chain of both jobs
once: the pre-extraction gates, extraction with language id (html or
pdf), these flags and the BPE metering.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, Observation, functions as F

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
    MapInArrow black boxes — review-pass-4 finding). The batch job
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
        # branch the lineage and re-run the mapInArrow extraction).
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
        # Python pass just to be dropped by nine regex probes.
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
    """The conjunction of every stage flag (the batch job's filter)."""
    out = F.lit(True)
    for c in KEEP_COLS:
        out = out & F.col(c)
    return out


def page_scorer(
    spark, opts: Mapping, *, streaming: bool
) -> Callable[[DataFrame], tuple[DataFrame, Observation | None]]:
    """The whole per-page chain of both corpus jobs, composed once.
    ``opts`` are a job's keyword values. The models (reference LMs, BPE
    vocabulary) and the gate list load when this is called, so a stream
    loads them before its query starts. The returned function maps raw
    pages (pdf blobs with ``input_format="pdf"``) to the scored frame
    and the gate Observation (None in the stream):

    - the pre-extraction gates (``pre_gates.apply_gates``: observed in
      batch, filtered in the stream);
    - extraction with language id in the same pass: the html kernel, or
      the pdf lane (``sources/pdf.pdf_extracted``);
    - the ``keep_*`` flags (:func:`with_keep_flags`); the stream drops
      failing rows after each stage (``early_filter``), so every row
      leaving it passed every stage;
    - BPE metering (``count_bpe``), else a null ``n_bpe_tokens``. After
      the flags, it meters every batch row (``kept_bpe_tokens`` sums
      the kept ones) and only the rows the stream keeps.

    ``python_parallelism`` floors each batch Python stage. A streaming
    frame cannot report its partition count, so there every floor is a
    shuffle: the stream shuffles once, after the gates and ahead of
    extraction. Its charset gate decodes unfloored: that Python stage
    sees only the legacy/BOM tail, on one branch of a union that a
    shuffle ahead of it would run on both branches."""
    from ..pystage import parallelism_floor
    from .bpe import load_vocab, with_bpe_counts
    from .pre_gates import active_gates, apply_gates

    lm_table = reference_lm_table(spark, opts["lm_ref_path"], opts["lm_max_bits"])
    vocab = load_vocab(spark, opts["bpe_vocab_path"]) if opts["count_bpe"] else None
    gates = active_gates(opts, streaming=streaming)
    floor = opts["python_parallelism"]

    def score(pages: DataFrame) -> tuple[DataFrame, Observation | None]:
        pp = floor
        if streaming:
            pages, gate_obs = apply_gates(
                pages, gates, dict(opts, python_parallelism=None)
            )
            pages, pp = parallelism_floor(pages, pp), None
        else:
            pages, gate_obs = apply_gates(pages, gates, opts, observe=True)
        if opts["input_format"] == "pdf":
            from ..sources.pdf import pdf_extracted

            extracted = pdf_extracted(pages, pp, opts["lang_margin"])
        else:
            from ..config import ExtractParams
            from ..pipeline import extract_pages

            extracted = extract_pages(
                pages,
                # verbatim <pre>; pdf text has no pre analog
                params=ExtractParams(preserve_pre=opts["preserve_pre"]),
                python_parallelism=pp,
                lang_id=True,
                lang_margin=opts["lang_margin"],
            )
        scored = with_keep_flags(
            extracted,
            min_quality=opts["min_quality"],
            min_tokens=opts["min_tokens"],
            langs=opts["langs"],
            gopher=opts["gopher"],
            entropy_min=opts["entropy_min"],
            lm_table=lm_table,
            lm_max_bits=opts["lm_max_bits"],
            max_compression=opts["max_compression"],
            quality_clf=opts["quality_clf"],
            script_screen=opts["script_screen"],
            python_parallelism=pp,
            early_filter=streaming,
        )
        if vocab is not None:
            scored = with_bpe_counts(scored, text_col="extracted_text",
                                     vocab=vocab)
        else:
            scored = scored.withColumn("n_bpe_tokens", F.lit(None).cast("long"))
        return scored, gate_obs

    return score
