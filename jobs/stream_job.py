"""Streaming corpus ingestion: the continuous counterpart of
jobs/corpus_job.py, as one spark-submit entrypoint.

    spark-submit --master <cluster> --py-files dist/engine.zip \\
        jobs/stream_job.py \\
        --input  /path/to/pages_parquet_dir \\
        --output /path/to/corpus \\
        --checkpoint /path/to/ckpt \\
        [--available-now] [--honor-noindex] \\
        [--min-quality 0.5] [--min-tokens 5] [--gopher] [...]

Every flag but ``--checkpoint``, ``--available-now`` and
``--honor-noindex`` is shared with the batch job and defined once, with
its checks, in ocrd_segment_spark/jobargs.py; ``--help`` lists them.

New page files landing in ``--input`` are picked up by the file
source; each microbatch runs the SAME narrow transform chain as the
batch job (pre-extraction gates → extract → quality/lang score →
filters — pytest pins microbatch == batch for every stage), and the
checkpoint gives exactly-once output across restarts (file-source
offsets + sink manifest — the streaming form of the batch job's
resume anti-join).

Exact dedup is deliberately NOT inline here: content-hash dedup
across an unbounded stream is unbounded state. The engine's choice is
the stateful MinHash dedup stream (streaming/dedup_stream.py) as a
downstream stage, or periodic batch compaction with
operators/dedup.merge_corpus — both documented, both tested.

The gates come from the batch job's table (operators/pre_gates.GATES),
streaming-legal entries only: blocklist → charset → content type →
noindex → noai → soft-404. Host rank, snapshot collapse and the
canonical-alias collapse stay batch-only.

``--available-now`` drains what exists and stops (replay/backfill
mode); omit it for a long-running job.

The sink schema is FIXED regardless of which stages are enabled
(signal columns of disabled stages are null-filled, see
``SINK_COLUMNS``): a checkpointed parquet sink is append-only, so a
restart with different flags must not write files whose schema
differs from what is already committed.
"""

from __future__ import annotations

# the frozen streamed-output column set: extraction output + the
# always-on quality columns + one signal column per optional stage
# (null when its stage is off). Order is part of the contract.
SINK_COLUMNS = (
    ("url", None),
    ("extracted_text", None),
    ("region_spans", None),
    ("lineage", None),
    ("pred_lang", None),
    ("lang_logp", None),
    ("n_tokens", None),
    ("short_ratio", None),
    ("quality", None),
    ("char_entropy", "double"),
    ("bits_per_bigram", "double"),
    ("compression_ratio", "double"),
    ("clf_logit", "double"),
    ("n_bpe_tokens", "long"),
    ("n_unk_pieces", "long"),
    # round-5 additions go at the END: the sink is append-only, so new
    # signal columns must extend the committed schema, never reorder it
    ("main_script", "string"),
    ("main_fraction", "double"),
)


def main() -> None:
    from ocrd_segment_spark import jobargs

    ap = jobargs.parser(__doc__)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument(
        "--honor-noindex",
        action="store_true",
        help="drop robots-noindex pages BEFORE extraction (row-local"
        " head_meta harvest, streaming-legal). The batch job's"
        " canonical-alias collapse (--honor-meta) is NOT available"
        " here: ranking aliases needs a non-time window over an"
        " unbounded stream — run canonical collapse as a batch"
        " compaction stage instead",
    )
    ap.add_argument("--available-now", action="store_true")
    args = jobargs.parse(ap)

    from ocrd_segment_spark.session import submit_session

    spark = submit_session("ocrd-segment-stream")
    q = run_stream(spark, **vars(args))
    q.awaitTermination()
    spark.stop()


def run_stream(
    spark,
    input_path: str,
    output_path: str,
    checkpoint: str,
    min_quality: float = 0.5,
    min_tokens: int = 5,
    langs: list[str] | None = None,
    lang_margin: float | None = None,
    preserve_pre: bool = False,
    gopher: bool = False,
    quality_clf: bool = False,
    script_screen: bool = False,
    drop_soft404: bool = False,
    honor_noai: bool = False,
    entropy_min: float | None = None,
    lm_ref_path: str | None = None,
    lm_max_bits: float | None = None,
    max_compression: float | None = None,
    blocklist_path: str | None = None,
    honor_noindex: bool = False,
    sniff_charset: bool = False,
    sniff_content_type: bool = False,
    count_bpe: bool = False,
    bpe_vocab_path: str | None = None,
    input_format: str = "pages",
    available_now: bool = True,
    python_parallelism: int | None = None,
):
    """Start the streaming query (importable for tests). Returns the
    StreamingQuery handle. The quality-signal stages mirror the batch
    job exactly (same operators, same thresholds, same null-keeps
    rule) — every stage is narrow, so all are streaming-legal. The
    output is projected onto the fixed ``SINK_COLUMNS`` schema so
    restarts with different stage flags keep appending a single
    parquet schema."""
    opts = dict(locals())
    from pyspark.sql import functions as F

    from ocrd_segment_spark.operators.bpe import load_vocab, with_bpe_counts
    from ocrd_segment_spark.operators.corpus_filters import (
        KEEP_COLS,
        keep_all,
        reference_lm_table,
        with_keep_flags,
    )
    from ocrd_segment_spark.operators.pre_gates import (
        active_gates,
        apply_gates,
    )
    from ocrd_segment_spark.streaming.extract_stream import stream_extract

    # per-language reference LMs and the BPE vocabulary are collected
    # ONCE before the stream starts (model-sized, batch reads) —
    # microbatches only fold (closure constants)
    lm_table = reference_lm_table(spark, lm_ref_path, lm_max_bits)
    bpe_vocab = load_vocab(spark, bpe_vocab_path) if count_bpe else None

    # the pre-extraction gates: the SAME table as the batch job
    # (operators/pre_gates), streaming-legal entries only. Static inputs
    # (the blocklist) are read when the query is built, before it
    # starts; each microbatch then does a stream-static broadcast join
    gates = active_gates(opts, streaming=True)

    def score_and_filter(extracted):
        # pred_lang arrives from the extraction pass itself
        # (stream_extract(lang_id=True) below). The SAME shared stage
        # chain as jobs/corpus_job.py — the batch job keeps the flags
        # for its funnel Observations; the stream conjoins and drops.
        flagged = with_keep_flags(
            extracted,
            min_quality=min_quality,
            min_tokens=min_tokens,
            langs=langs,
            gopher=gopher,
            quality_clf=quality_clf,
            entropy_min=entropy_min,
            lm_table=lm_table,
            lm_max_bits=lm_max_bits,
            max_compression=max_compression,
            script_screen=script_screen,
            python_parallelism=python_parallelism,
            # the stream needs no per-stage drop counts, so failing
            # rows drop BEFORE the Python LM/compression stages
            # (predicates don't push through mapInPandas on their own)
            early_filter=True,
        )
        kept = flagged.filter(keep_all()).drop(*KEEP_COLS)
        if count_bpe:
            # subword metering on kept rows only (pure JVM column
            # fold) — batch-job parity for --count-bpe
            kept = with_bpe_counts(kept, text_col="extracted_text",
                                   vocab=bpe_vocab)
        # fixed sink schema: null-fill the signal columns of disabled
        # stages and project in the frozen order, so a restart with
        # different flags appends the SAME parquet schema
        cols = []
        for name, typ in SINK_COLUMNS:
            if name in kept.columns:
                cols.append(F.col(name))
            else:
                cols.append(F.lit(None).cast(typ).alias(name))
        return kept.select(*cols)

    # the exactly-once source/sink scaffolding lives in stream_extract;
    # this job only supplies the score/filter chain (and, for the PDF
    # lane, the swapped source schema + extractor pair)
    input_schema = None
    extractor = None
    if input_format == "pdf":
        # the PDF lane, shared with corpus_job --input-format pdf: both
        # mapInPandas stages are streaming-legal
        from ocrd_segment_spark.sources.pdf import pdf_extracted

        input_schema = "url string, data binary"

        def extractor(blobs):
            return pdf_extracted(blobs, python_parallelism, lang_margin)

    from ocrd_segment_spark.config import ExtractParams

    return stream_extract(
        spark,
        input_path,
        output_path,
        checkpoint,
        # verbatim <pre> is a pure kernel param — narrow, streaming-
        # legal, batch parity with corpus_job --preserve-pre
        params=ExtractParams(preserve_pre=preserve_pre),
        available_now=available_now,
        transform=score_and_filter,
        pre_transform=lambda pages: apply_gates(pages, gates, opts)[0],
        python_parallelism=python_parallelism,
        lang_id=True,
        lang_margin=lang_margin,
        input_schema=input_schema,
        extractor=extractor,
    )


if __name__ == "__main__":
    main()
