"""Spark extraction pipeline — the north-star job.

``pages (url, warc_ts, html, text, lang)`` →
``(url, extracted_text, region_spans, lineage)``

Design (Spark-first, SURVEY.md §2.10):

- one ``select`` before the kernel so Catalyst prunes unused columns at
  the parquet scan (only ``url, html`` cross the Arrow boundary);
- the whole per-document chain (parse → repair → serialize) is ONE
  ``mapInPandas`` stage — operator fusion inside the UDF mirrors the
  reference's single in-memory page pass (repair.py:107-186) and
  crosses JVM↔Python exactly once per document;
- no shuffle anywhere in the extract path: mapInPandas is a narrow
  transformation, so 100 TB of pages = pure scan→transform→write with
  zero exchange. Skew is irrelevant to the narrow path; for downstream
  per-host aggregations we expose an explicit salted key
  (``with_host_salt``);
- Arrow batch size must be bounded because html blobs are large:
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (see
  ``session.build_session``);
- resume = anti-join of already-written urls (idempotent append),
  the Iceberg-snapshot analog (SURVEY.md §2.8).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import KERNEL_VERSION
from .config import DEFAULT_PARAMS, ExtractParams
from .kernel.extract import extract_document

REGION_SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("region_id", T.StringType(), False),
            T.StructField("rtype", T.StringType(), False),
            T.StructField("subtype", T.StringType(), False),
            T.StructField("start", T.LongType(), False),
            T.StructField("end", T.LongType(), False),
            T.StructField("parent_id", T.StringType(), False),
            T.StructField("order", T.IntegerType(), False),
            T.StructField("score", T.DoubleType(), False),
            # reading direction (ltr|rtl|auto) from the nearest valid
            # dir= ancestor; null = unspecified / params.reading_direction
            # off (kernel 1.5.0 orientation analog)
            T.StructField("dir", T.StringType(), True),
        ]
    )
)

LINEAGE_TYPE = T.StructType(
    [
        T.StructField("kernel_version", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("parse_failed", T.BooleanType(), False),
        T.StructField("n_candidates", T.IntegerType(), False),
        T.StructField("n_kept", T.IntegerType(), False),
        T.StructField("n_dropped", T.IntegerType(), False),
    ]
)

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField("region_spans", REGION_SPAN_TYPE, False),
        T.StructField("lineage", LINEAGE_TYPE, False),
    ]
)


def _extract_batches(
    params: ExtractParams,
    with_styles: bool = False,
    with_lang: bool = False,
    lang_margin: float | None = None,
):
    """Returns the mapInPandas function. The kernel import happens at
    module import on the worker; params is a small frozen dataclass
    captured in the closure (broadcast via task serialization).
    ``with_styles`` adds the flattened ``style_spans`` column (one
    packing loop serves both pipelines — no drift between them).
    ``with_lang`` scores language id (operators/langid.score_document,
    the SAME frozen function the standalone operator maps) on the
    freshly extracted text INSIDE this batch loop — the text is
    already in Python memory, so the job pipeline pays zero extra
    Arrow round-trips of full pages for it."""
    if with_lang:
        from .operators.langid import score_document

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        for pdf in batches:
            urls = pdf["url"].tolist()
            htmls = pdf["html"].tolist()
            texts, spans, lineages, styles = [], [], [], []
            preds, logps = [], []
            for html in htmls:
                text, regions, metrics = extract_document(html, params)
                texts.append(text)
                if with_lang:
                    lang, lp = score_document(text, margin=lang_margin)
                    preds.append(lang)
                    logps.append(lp)
                spans.append(
                    [
                        (
                            r["region_id"],
                            r["rtype"],
                            r["subtype"],
                            r["start"],
                            r["end"],
                            r["parent_id"],
                            r["order"],
                            r["score"],
                            r.get("dir"),
                        )
                        for r in regions
                    ]
                )
                if with_styles:
                    styles.append(
                        [
                            (
                                s["start"], s["end"], s["bold"], s["italic"],
                                s["monospace"], s["underlined"],
                                s["strikethrough"], s["subscript"],
                                s["superscript"],
                                # css fields are absent without
                                # params.css_styles → nulls
                                s.get("font_family"), s.get("font_size"),
                                s.get("underline_style"), s.get("small_caps"),
                                s.get("letter_spaced"), s.get("serif"),
                                s.get("kerning"),
                            )
                            for r in regions
                            for s in r.get("style_runs", [])
                        ]
                    )
                lineages.append(
                    (
                        KERNEL_VERSION,
                        pid,
                        metrics["parse_failed"],
                        metrics["n_candidates"],
                        metrics["n_kept"],
                        metrics["n_dropped"],
                    )
                )
            cols = {
                "url": urls,
                "extracted_text": texts,
                "region_spans": spans,
                "lineage": lineages,
            }
            if with_styles:
                cols["style_spans"] = styles
            if with_lang:
                cols["pred_lang"] = preds
                cols["lang_logp"] = pd.array(logps, dtype="float64")
            yield pd.DataFrame(cols)

    return fn


# appended by extract_pages(lang_id=True) — kept next to EXTRACT_SCHEMA
# so schema and packing loop stay in one file
LANG_FIELDS = [
    T.StructField("pred_lang", T.StringType(), False),
    T.StructField("lang_logp", T.DoubleType(), True),
]


def extract_pages(
    df: DataFrame,
    params: ExtractParams = DEFAULT_PARAMS,
    python_parallelism: int | None = None,
    lang_id: bool = False,
    lang_margin: float | None = None,
) -> DataFrame:
    """The extraction transform. Narrow (no shuffle); input columns
    beyond (url, html) are pruned before the Arrow boundary.

    ``python_parallelism`` is a parallelism FLOOR for the python
    stage: small inputs fan out to at least this many tasks; a finer
    existing scan partitioning is left intact (concurrency is bounded
    by the executor's task slots either way). The round-1 cores//2
    CAP is retired — see _cap_python_tasks for the round-6
    measurements (coalesce-induced empty/doubled partitions plus a
    no-longer-true 2-threads-per-task premise made the cap 3× slower
    at sf1.0).

    ``lang_id=True`` appends (pred_lang, lang_logp) scored in the SAME
    Python pass — value-identical to chaining
    operators/langid.with_lang_ngram (pytest-pinned) but without a
    second Arrow round-trip of the full rows (measured ~6% faster at
    sf0.1; the structural win is one python stage instead of two,
    which is what sizes executors for UDF-heavy pipelines).
    ``lang_margin`` enables the frozen step-6 abstention rule
    (operators/langid DEFAULT_MARGIN): thin top-2 gaps route to 'und'
    instead of a confident misbin — opt-in, None keeps pure argmax."""
    schema = EXTRACT_SCHEMA
    if lang_id:
        schema = T.StructType(list(EXTRACT_SCHEMA.fields) + LANG_FIELDS)
    src = _cap_python_tasks(df.select("url", "html"), python_parallelism)
    return src.mapInPandas(
        _extract_batches(params, with_lang=lang_id, lang_margin=lang_margin),
        schema,
    )


def _cap_python_tasks(src: DataFrame, python_parallelism: int | None) -> DataFrame:
    """Ensure AT LEAST ``python_parallelism``-way partitioning ahead of
    a mapInPandas stage — shared by the plain and styled pipelines.

    Round-6 change (measured, guide §2.5/§2.6): this used to
    ``coalesce`` DOWN to the cap as an oversubscription guard, on the
    round-1 measurement that each Python-UDF task costs ~2 hardware
    threads. Two things invalidated that guard on the current stack:

    - ``coalesce(n)`` over a parquet scan whose ``maxPartitionBytes``
      splits single-row-group files produces ALTERNATING EMPTY parent
      partitions (the tail split of a one-row-group file carries no
      row-group start → zero rows), and the coalescer's grouping can
      land all-empty groups — measured at sf1.0: coalesce(16) → 8
      empty + 8 double-size tasks, i.e. HALF the requested
      parallelism plus stragglers (44.7 s vs 14.1 s uncapped for the
      same 1M-page extract).
    - with balanced partitions, cores-many concurrent Python tasks now
      BEAT cores//2 (repartition(32) 15.2 s vs repartition(16) 21.6 s
      on local[32]): the Arrow feed threads no longer burn a full
      hardware thread per task on Spark 4.1.

    Concurrency is bounded by the executor's task slots regardless of
    partition count, so leaving a finer scan partitioning intact keeps
    every core busy and the per-task memory SMALLER. The parameter
    therefore now acts as a parallelism FLOOR (small inputs still fan
    out to at least the requested width); it never reduces an existing
    finer partitioning."""
    if python_parallelism is None:
        return src
    if src.isStreaming:
        # .rdd is illegal on a streaming DataFrame (raises before the
        # query starts — observed live); repartition sizes microbatch
        # task counts directly
        return src.repartition(python_parallelism)
    cur = src.rdd.getNumPartitions()
    if cur >= python_parallelism:
        # fine-enough partitioning already — a coalesce here created
        # empty/doubled groups (above), and a repartition would
        # full-shuffle the payload for nothing
        return src
    return src.repartition(python_parallelism)


def with_host_salt(df: DataFrame, n_salts: int = 16) -> DataFrame:
    """Explicit skew handling for per-host downstream aggregations
    (north_rule: 'explicit salting of skewed hosts'): host key plus a
    deterministic salt derived from the url hash. GroupBy
    (host, salt) → partial agg → re-agg by host turns one hot host
    into ``n_salts`` parallel partials."""
    return df.withColumn(
        "host", F.parse_url(F.col("url"), F.lit("HOST"))
    ).withColumn("salt", F.pmod(F.xxhash64("url"), F.lit(n_salts)).cast("int"))


def host_metrics(df: DataFrame, n_salts: int = 16) -> DataFrame:
    """Per-host extraction metrics with two-phase salted aggregation
    (A-series analog). Demonstrates the skew-safe pattern: the first
    groupBy includes the salt (hot hosts fan out across partitions),
    the second collapses it."""
    salted = with_host_salt(df, n_salts)
    partial = salted.groupBy("host", "salt").agg(
        F.count("*").alias("pages"),
        F.sum(F.col("lineage.n_kept").cast("long")).alias("kept"),
        F.sum(F.col("lineage.n_dropped").cast("long")).alias("dropped"),
        F.sum(F.col("lineage.parse_failed").cast("long")).alias("parse_failures"),
    )
    return partial.groupBy("host").agg(
        F.sum("pages").alias("pages"),
        F.sum("kept").alias("regions_kept"),
        F.sum("dropped").alias("regions_dropped"),
        F.sum("parse_failures").alias("parse_failures"),
    )


def partition_metrics(df: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows (north_star: 'per-partition
    lineage and extraction metrics')."""
    return df.groupBy(F.col("lineage.partition_id").alias("partition_id")).agg(
        F.count("*").alias("pages"),
        F.sum(F.col("lineage.n_kept").cast("long")).alias("regions_kept"),
        F.sum(F.col("lineage.n_dropped").cast("long")).alias("regions_dropped"),
        F.sum(F.col("lineage.parse_failed").cast("long")).alias("parse_failures"),
        F.first("lineage.kernel_version").alias("kernel_version"),
    )


def run_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    params: ExtractParams = DEFAULT_PARAMS,
    resume: bool = True,
    metrics_path: str | None = None,
    python_parallelism: int | None = None,
    sniff_charset: bool = False,
    input_format: str = "pages",
    warc_keep_all: bool = False,
    warc_byte_exact: bool = False,
) -> None:
    """Batch run with checkpoint-resume semantics.

    Resume = left_anti join of input urls against the urls already in
    the output table (the Iceberg-snapshot analog: parquet appends are
    atomic per file; a killed run leaves complete files only, so
    re-running appends exactly the missing urls). Verified by
    tests/test_resume.py kill-and-rerun.

    ``metrics_path``: per-partition lineage/metrics rows appended per
    run (north_star: 'per-partition lineage and extraction metrics'),
    stamped with a run id derived from the Spark application id.

    ``input_format``: ``pages`` (default, the canonical (url, html)
    table), ``warc`` (parquet of WARC segment blobs with a binary
    ``data`` column; sources/warc parses records scan-stage), or
    ``warc-gz`` (per-record-gzipped segments, decompressed by the
    zlib member walk first). For the WARC formats the default
    ingestion gate keeps HTTP 200 + text/html responses only;
    ``warc_keep_all`` disables it (every parsable response record
    becomes a page). Resume stays url-grain either way — the
    anti-join runs AFTER parsing, so a resumed WARC run re-parses
    blobs (cheap, scan-stage) but never re-extracts finished urls.

    ``warc_byte_exact`` routes the WARC parse through the python
    byte walk (sources/warc.warc_pages_bytes) + HTTP Content-Encoding
    decode: Content-Length slices in BYTES and gzip/deflate bodies
    inflate before extraction. The default JVM string scan is faster
    but char-sliced — right for UTF-8/identity-encoded archives,
    wrong for compressed or non-UTF-8 payloads."""
    pages = spark.read.parquet(input_path)
    if input_format not in ("pages", "warc", "warc-gz"):
        raise ValueError(f"unknown input_format: {input_format!r}")
    if input_format != "pages":
        from .sources.warc import (
            decode_content_encoding,
            decode_warc_gz,
            warc_pages_bytes,
            warc_response_pages,
        )

        blobs = pages
        if input_format == "warc-gz":
            blobs = decode_warc_gz(
                blobs, python_parallelism=python_parallelism
            ).filter(F.col("decode_ok"))
        if warc_byte_exact:
            pages = decode_content_encoding(
                warc_pages_bytes(
                    blobs, python_parallelism=python_parallelism
                ),
                python_parallelism=python_parallelism,
            )
        else:
            pages = warc_response_pages(blobs)
        if not warc_keep_all:
            pages = pages.filter(
                (F.col("http_status") == 200)
                & F.col("content_type").startswith("text/html")
            )
        pages = pages.select("url", "html")
    if resume:
        from pyspark.errors import AnalysisException

        try:
            done = spark.read.parquet(output_path).select("url")
            pages = pages.join(done, "url", "left_anti")
        except AnalysisException as ex:
            # Two states mean "no committed output yet" and disable the
            # anti-join: the path is absent (never ran), or the path
            # exists but holds zero committed parquet footers —
            # UNABLE_TO_INFER_SCHEMA, the state a SIGKILL during the
            # FIRST write attempt leaves behind (only `_temporary/`;
            # FileOutputCommitter commits nothing before job commit).
            # Any other read failure (corruption, transient FS error)
            # must abort rather than silently re-append every url.
            msg = str(ex)
            if not any(
                tag in msg
                for tag in ("PATH_NOT_FOUND", "Path does not exist", "UNABLE_TO_INFER_SCHEMA")
            ):
                raise
    if sniff_charset:
        # charset-repair pre-stage (functions/charset): the clean-utf8
        # majority passes through untouched; only the legacy/BOM tail
        # pays a Python decode. Opt-in — with it off, byte identity to
        # the utf-8-cast reference semantics is exact by construction.
        from .functions.charset import reencode_non_utf8

        pages = reencode_non_utf8(
            pages, python_parallelism=python_parallelism
        ).drop("charset", "charset_source")
    result = extract_pages(pages, params, python_parallelism)
    if metrics_path is not None:
        result = result.cache()
    result.write.mode("append").parquet(output_path)
    if metrics_path is not None:
        metrics = partition_metrics(result).withColumn(
            "run_id", F.lit(spark.sparkContext.applicationId)
        )
        metrics.write.mode("append").parquet(metrics_path)
        result.unpersist()


# Full TextStyle struct (reference extract_lines.py:201-219 field
# vocabulary). The seven tag-derived booleans are always populated;
# the CSS-derived fields (font_family … kerning) are nullable — null =
# not specified by any enclosing style, real values only under
# params.css_styles (xHeight is raster-only, justified omission).
STYLE_RUN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.LongType(), False),
            T.StructField("end", T.LongType(), False),
            T.StructField("bold", T.BooleanType(), False),
            T.StructField("italic", T.BooleanType(), False),
            T.StructField("monospace", T.BooleanType(), False),
            T.StructField("underlined", T.BooleanType(), False),
            T.StructField("strikethrough", T.BooleanType(), False),
            T.StructField("subscript", T.BooleanType(), False),
            T.StructField("superscript", T.BooleanType(), False),
            T.StructField("font_family", T.StringType(), True),
            T.StructField("font_size", T.DoubleType(), True),
            T.StructField("underline_style", T.StringType(), True),
            T.StructField("small_caps", T.BooleanType(), True),
            T.StructField("letter_spaced", T.BooleanType(), True),
            T.StructField("serif", T.BooleanType(), True),
            T.StructField("kerning", T.BooleanType(), True),
        ]
    )
)

EXTRACT_STYLED_SCHEMA = T.StructType(
    list(EXTRACT_SCHEMA.fields) + [T.StructField("style_spans", STYLE_RUN_TYPE, False)]
)


def extract_pages_styled(
    df: DataFrame,
    params: ExtractParams | None = None,
    python_parallelism: int | None = None,
) -> DataFrame:
    """Extraction + TextStyle runs (reference extract_lines.py:201-219
    style struct per segment): same narrow mapInPandas plan with one
    extra ``style_spans`` column (document-level, absolute output
    offsets). ``params.style_spans`` is forced on; the row packing is
    the SAME ``_extract_batches`` loop as the plain pipeline, and
    ``python_parallelism`` is the same parallelism floor as in
    :func:`extract_pages`."""
    import dataclasses

    params = dataclasses.replace(params or DEFAULT_PARAMS, style_spans=True)
    src = _cap_python_tasks(df.select("url", "html"), python_parallelism)
    return src.mapInPandas(
        _extract_batches(params, with_styles=True), EXTRACT_STYLED_SCHEMA
    )
