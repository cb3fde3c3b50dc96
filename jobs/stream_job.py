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
source. Each microbatch runs the batch job's per-page chain, defined
once in ``operators/corpus_filters.page_scorer`` (pre-extraction gates →
extract + language id → quality flags → BPE metering), dropping failing
rows after each stage (pytest pins microbatch == batch for every
stage). The checkpoint gives exactly-once output across restarts
(file-source offsets + sink manifest — the streaming form of the batch
job's resume anti-join).

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
    StreamingQuery handle. Each microbatch runs the batch job's chain
    (``corpus_filters.page_scorer``: gates → extract → flags → BPE),
    keeping only the rows that pass every stage. The output is
    projected onto the fixed ``SINK_COLUMNS`` schema so restarts with
    different stage flags keep appending a single parquet schema."""
    opts = dict(locals())
    from pyspark.sql import functions as F

    from ocrd_segment_spark.operators.corpus_filters import page_scorer
    from ocrd_segment_spark.streaming.extract_stream import (
        PAGES_SCHEMA,
        stream_extract,
    )

    # models and gates load here, before the query starts; each
    # microbatch only applies them
    score = page_scorer(spark, opts, streaming=True)

    def transform(pages):
        scored, _ = score(pages)
        # fixed sink schema: null-fill the signal columns of disabled
        # stages and project in the frozen order (the keep_* flags go)
        return scored.select(*(
            F.col(name) if name in scored.columns
            else F.lit(None).cast(typ).alias(name)
            for name, typ in SINK_COLUMNS
        ))

    return stream_extract(
        spark,
        input_path,
        output_path,
        checkpoint,
        transform=transform,
        schema="url string, data binary" if input_format == "pdf"
        else PAGES_SCHEMA,
        available_now=available_now,
    )


if __name__ == "__main__":
    main()
