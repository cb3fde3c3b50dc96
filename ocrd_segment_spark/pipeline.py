"""Spark extraction pipeline — the north-star job.

``pages (url, warc_ts, html, text, lang)`` →
``(url, extracted_text, region_spans, lineage)``

Design (Spark-first, SURVEY.md §2.10):

- one ``select`` before the kernel so Catalyst prunes unused columns at
  the parquet scan (only ``url, html`` cross the Arrow boundary);
- the whole per-document chain (parse → repair → serialize) is ONE
  ``mapInArrow`` stage (``pystage.map_rows``) — operator fusion inside
  the row function mirrors the reference's single in-memory page pass
  (repair.py:107-186) and crosses JVM↔Python exactly once per
  document, Arrow to Python lists and back with no pandas in between;
- no shuffle anywhere in the extract path: mapInArrow is a narrow
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

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import KERNEL_VERSION
from .config import DEFAULT_PARAMS, ExtractParams
from .kernel.extract import extract_document
from .pystage import map_rows

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

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField("region_spans", REGION_SPAN_TYPE, False),
        T.StructField("lineage", LINEAGE_TYPE, False),
    ]
)


def _extract_row(
    params: ExtractParams, with_lang: bool, lang_margin: float | None
):
    """The per-page row function: kernel, region/lineage packing, the
    ``style_spans`` runs when ``params.style_spans`` is set, and
    ``with_lang`` scoring (operators/langid.score_document, the SAME
    frozen function the standalone operator maps) of the freshly
    extracted text — already in Python memory, so language id costs
    no extra Arrow round-trip of full pages."""
    if with_lang:
        from .operators.langid import score_document
    from pyspark import TaskContext

    def row(url, html):
        text, regions, metrics = extract_document(html, params)
        ctx = TaskContext.get()
        out = (
            url,
            text,
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
            ],
            (
                KERNEL_VERSION,
                ctx.partitionId() if ctx is not None else -1,
                metrics["parse_failed"],
                metrics["n_candidates"],
                metrics["n_kept"],
                metrics["n_dropped"],
            ),
        )
        if params.style_spans:
            out += (
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
                ],
            )
        if with_lang:
            out += score_document(text, margin=lang_margin)
        return out

    return row


# appended by extract_pages(lang_id=True) — kept next to EXTRACT_SCHEMA
# so schema and row function stay in one file
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

    ``python_parallelism`` is the shared parallelism floor
    (pystage.parallelism_floor): small inputs fan out to at least this
    many tasks, a finer scan partitioning is left intact.

    ``params.style_spans`` appends ``style_spans``: the TextStyle runs
    (reference extract_lines.py:201-219 style struct per segment),
    document-level, in absolute output offsets.

    ``lang_id=True`` appends (pred_lang, lang_logp) scored in the SAME
    Python pass — value-identical to chaining
    operators/langid.with_lang_ngram (pytest-pinned) but without a
    second Arrow round-trip of the full rows (measured ~6% faster at
    sf0.1; the structural win is one python stage instead of two,
    which is what sizes executors for UDF-heavy pipelines).
    ``lang_margin`` enables the frozen step-6 abstention rule
    (operators/langid DEFAULT_MARGIN): thin top-2 gaps route to 'und'
    instead of a confident misbin — opt-in, None keeps pure argmax."""
    fields = list(EXTRACT_SCHEMA.fields)
    if params.style_spans:
        fields.append(T.StructField("style_spans", STYLE_RUN_TYPE, False))
    if lang_id:
        fields += LANG_FIELDS
    return map_rows(
        df, (), ("url", "html"), _extract_row(params, lang_id, lang_margin),
        fields, python_parallelism,
    )


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
