"""Streaming corpus ingestion: the continuous counterpart of
jobs/corpus_job.py, as one spark-submit entrypoint.

    spark-submit --master <cluster> --py-files dist/engine.zip \\
        jobs/stream_job.py \\
        --input  /path/to/pages_parquet_dir \\
        --output /path/to/corpus \\
        --checkpoint /path/to/ckpt \\
        [--min-quality 0.5] [--min-tokens 5] [--gopher] \\
        [--entropy-min X] [--lm-ref PATH --lm-max-bits X] \\
        [--max-compression X] [--blocklist PATH] [--count-bpe] \\
        [--available-now] [--python-parallelism N]

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

import argparse

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
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--langs", default=None, help="comma list; default: keep all")
    ap.add_argument(
        "--lang-margin",
        type=float,
        default=None,
        help="per-char top-2 gap below which language id abstains to"
        " 'und' (same frozen rule as the batch job)",
    )
    ap.add_argument(
        "--preserve-pre", action="store_true",
        help="verbatim-whitespace <pre> extraction (kernel 1.6.0),"
        " parity with corpus_job --preserve-pre",
    )
    ap.add_argument("--gopher", action="store_true")
    ap.add_argument(
        "--quality-clf",
        action="store_true",
        help="learned keep/drop stage (same frozen model as the batch"
        " job); clf_logit rides the sink as a signal column",
    )
    ap.add_argument("--entropy-min", type=float, default=None)
    ap.add_argument("--lm-ref", default=None)
    ap.add_argument("--lm-max-bits", type=float, default=None)
    ap.add_argument("--max-compression", type=float, default=None)
    ap.add_argument(
        "--blocklist",
        default=None,
        help="parquet with a 'domain' column; pages whose registered"
        " domain matches are dropped BEFORE extraction (stream-static"
        " broadcast join, same semantics as the batch job)",
    )
    ap.add_argument(
        "--count-bpe",
        action="store_true",
        help="append n_bpe_tokens / n_unk_pieces to kept rows (pure"
        " JVM column fold, same vocabulary as the batch job)",
    )
    ap.add_argument(
        "--bpe-vocab",
        default=None,
        help="piece table for --count-bpe (parquet / .csv, column:"
        " piece) — a real tokenizer's vocabulary; loaded once before"
        " the stream starts",
    )
    ap.add_argument(
        "--script-screen",
        action="store_true",
        help="drop mixed-script documents (same frozen rule as the"
        " batch job; operators/scriptmix) — main_script/main_fraction"
        " ride the sink as signal columns",
    )
    ap.add_argument(
        "--honor-noai",
        action="store_true",
        help="drop noai-opted-out pages BEFORE extraction (row-local"
        " robots-meta token match, streaming-legal; batch parity for"
        " corpus_job --honor-noai)",
    )
    ap.add_argument(
        "--drop-soft404",
        action="store_true",
        help="drop soft-404 error pages BEFORE extraction (shared"
        " stage with the batch job: operators/softerrors"
        ".soft404_page_stage; row-local column math, streaming-legal)",
    )
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
    ap.add_argument(
        "--sniff-charset", action="store_true",
        help="charset-repair pre-stage before html-reading stages"
        " (batch-job parity; functions/charset)",
    )
    ap.add_argument(
        "--sniff-content-type", action="store_true",
        help="drop non-html bodies by magic bytes before extraction"
        " (batch-job parity; functions/multimodal.with_content_type);"
        " row-local column math, streaming-legal, runs after"
        " --sniff-charset when both are on",
    )
    ap.add_argument(
        "--input-format", choices=("pages", "pdf"), default="pages",
        help="'pages' = canonical (url, html) stream through the"
        " kernel; 'pdf' = (url, data) PDF blob stream through the"
        " frozen text-subset parser (sources/pdf) — batch-job parity"
        " for corpus_job --input-format pdf",
    )
    ap.add_argument("--available-now", action="store_true")
    ap.add_argument("--python-parallelism", type=int, default=None)
    args = ap.parse_args()
    from ocrd_segment_spark.operators.pre_gates import refuse_html_on_pdf

    refuse_html_on_pdf(ap, args)
    if args.bpe_vocab is not None and not args.count_bpe:
        ap.error("--bpe-vocab requires --count-bpe"
                 " (a vocabulary with no metering stage does nothing)")
    if (args.lm_ref is None) != (args.lm_max_bits is None):
        ap.error("--lm-ref and --lm-max-bits must be given together"
                 " (one alone would silently skip the LM filter stage)")

    from ocrd_segment_spark.session import submit_session

    spark = submit_session("ocrd-segment-stream")
    q = run_stream(
        spark,
        args.input,
        args.output,
        args.checkpoint,
        min_quality=args.min_quality,
        min_tokens=args.min_tokens,
        langs=args.langs.split(",") if args.langs else None,
        lang_margin=args.lang_margin,
        preserve_pre=args.preserve_pre,
        gopher=args.gopher,
        quality_clf=args.quality_clf,
        script_screen=args.script_screen,
        drop_soft404=args.drop_soft404,
        honor_noai=args.honor_noai,
        entropy_min=args.entropy_min,
        lm_ref_path=args.lm_ref,
        lm_max_bits=args.lm_max_bits,
        max_compression=args.max_compression,
        blocklist_path=args.blocklist,
        honor_noindex=args.honor_noindex,
        sniff_charset=args.sniff_charset,
        sniff_content_type=args.sniff_content_type,
        count_bpe=args.count_bpe,
        bpe_vocab_path=args.bpe_vocab,
        input_format=args.input_format,
        available_now=args.available_now,
        python_parallelism=args.python_parallelism,
    )
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

    # per-language reference LMs collected ONCE before the stream
    # starts (model-sized, batch read) — microbatches only fold
    lm_table = (
        reference_lm_table(spark, lm_ref_path)
        if lm_ref_path is not None and lm_max_bits is not None
        else None
    )

    bpe_vocab = None
    if count_bpe:
        from ocrd_segment_spark.operators.bpe import VOCAB, load_vocab

        bpe_vocab = (
            load_vocab(spark, bpe_vocab_path)
            if bpe_vocab_path is not None
            else VOCAB
        )

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
            # fold) — batch-job parity for --count-bpe; the vocab is
            # resolved ONCE before the stream starts (closure constant
            # across microbatches)
            from ocrd_segment_spark.operators.bpe import with_bpe_counts

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
