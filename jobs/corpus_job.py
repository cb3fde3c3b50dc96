"""End-to-end training-corpus job: raw pages → clean deduplicated
training documents. The composition a 100 TB data pipeline actually
runs, as one spark-submit entrypoint:

    spark-submit --master <cluster> --py-files dist/engine.zip \\
        jobs/corpus_job.py \\
        --input  /path/to/pages_parquet \\
        --output /path/to/corpus \\
        [--min-quality 0.5] [--min-tokens 5] [--langs en,de] \\
        [--stats /path/to/stats] [--python-parallelism N]

The flags the stream job takes too are defined once, with their checks,
in ocrd_segment_spark/jobargs.py; this job adds its side outputs and
post-write stages.

Stages (each narrow or one bounded shuffle). Steps 0–3 are the
per-page chain the stream job runs too, defined once in
``operators/corpus_filters.page_scorer``:

0. pre-gates   — optional cheap filters BEFORE extraction, so excluded
                 pages never pay kernel time: the ordered gate table
                 (operators/pre_gates.GATES: blocklist → charset →
                 content type → host rank → snapshot → noindex →
                 canonical alias → noai → soft-404), each gate with its
                 own funnel drop count. The raw-scan side outputs
                 (``SIDE_OUTPUTS``: outlinks, feed links, tables, image
                 pairs) read the input before any gate.
1. extract     — HTML → (extracted_text, region_spans, lineage); the
                 shuffle-free mapInArrow kernel path, or the PDF lane
                 (``--input-format pdf``, sources/pdf).
2. score       — char-n-gram language id scored INSIDE the extraction
                 pass + quality as pure column math: narrow, zero
                 shuffle, single linear lineage.
3. filter      — the ``keep_*`` flags of operators/corpus_filters:
                 quality/token/lang thresholds, ``--gopher``,
                 ``--entropy-min``, ``--lm-ref``/``--lm-max-bits``,
                 ``--max-compression``, ``--script-screen``,
                 ``--quality-clf``, all in the same linear lineage (no
                 join back, no re-extraction); then ``--count-bpe``
                 subword metering.
4. exact dedup — keep the canonical (min url) copy per content hash:
                 ONE shuffle on md5(extracted_text); near-dup passes
                 (MinHash LSH) run as a separate offline audit because
                 they need a human-reviewed threshold.
5. write       — training docs + a per-stage accounting table so every
                 dropped document is attributable (the A8/A9 audit
                 discipline applied to the corpus funnel).
6. post-write (optional, each reads the committed parquet rather than
   branching the live DAG — re-extraction is never triggered):
   ``--boilerplate-min-df N`` writes ``<output>_clean`` with
   cross-document frequent lines removed — add ``--preserve-spans``
   to remove frequent REGIONS instead, emitting (url, clean_text,
   REMAPPED region_spans): the clean table then keeps region
   structure (spans slice clean_text exactly) without re-running
   extraction; the line-based variant remains for span-less corpora.
   ``--pack-sequences N`` writes ``<output>_packed`` — the GPT-style
   packed-training-sequence manifest (docs concatenate in frozen
   hashed order, split AT N-token boundaries).
   ``--near-dup-audit`` writes LSH-then-verify candidate pairs;
   ``--decontaminate <bench>`` writes ``<output>_contaminated``
   (eval-set n-gram overlap, broadcast). Span-preserving PII
   scrubbing (functions/pii.redact_pii_spans) composes on either
   clean table; the text-only redact_pii remains for span-less use.
"""

from __future__ import annotations

from functools import partial


def main() -> None:
    from ocrd_segment_spark import jobargs

    ap = jobargs.parser(__doc__)
    ap.add_argument("--stats", dest="stats_path", default=None)
    ap.add_argument(
        "--host-priors",
        action="store_true",
        help="write host-grain content priors (n_docs, mean quality,"
        " top language) to <output>_host_priors after the corpus"
        " commits — the content twin of the link-graph rank prior,"
        " consumable as a next-crawl drop/boost list"
        " (operators/hoststats)",
    )
    ap.add_argument(
        "--card",
        action="store_true",
        help="write a per-language dataset card (doc/token/char counts,"
        " mean + median lengths) to <output>_card after the corpus"
        " commits (post-write pattern: one cheap aggregate scan)",
    )
    ap.add_argument(
        "--tables",
        dest="tables_path",
        default=None,
        help="optional path: side-output of GitHub-markdown serialized"
        " HTML tables (operators/tables) harvested from the RAW crawl"
        " before any exclusion — table-structured training data, same"
        " raw-scan discipline as --outlinks",
    )
    ap.add_argument(
        "--image-pairs",
        dest="image_pairs_path",
        default=None,
        help="optional path: side-output of (url, image_url, alt_text)"
        " image-text pair candidates (operators/images: <img src alt>"
        " + og:image hero rows, urls resolved) harvested from the RAW"
        " crawl — the multimodal fetch list; same raw-scan discipline"
        " as --outlinks",
    )
    ap.add_argument(
        "--boilerplate-min-df",
        type=int,
        default=None,
        help="remove lines occurring in >= N distinct corpus documents"
        " (C4-style cross-document boilerplate strip); adds clean_text",
    )
    ap.add_argument(
        "--preserve-spans",
        action="store_true",
        help="make --boilerplate-min-df remove frequent REGIONS via"
        " operators/paragraphs.remove_frequent_regions: <output>_clean"
        " then carries REMAPPED region_spans that slice clean_text"
        " exactly (region structure survives cleaning); without this"
        " flag the line-based strip emits span-less clean_text",
    )
    ap.add_argument(
        "--redact-pii",
        action="store_true",
        help="write <output>_redacted: span-preserving PII scrub"
        " (functions/pii.redact_pii_spans) of the furthest-downstream"
        " span-aligned table the job produced — the _clean table when"
        " --preserve-spans ran, else the committed corpus — clean_text"
        " with <EMAIL>/<IP>/<PHONE> tokens plus REMAPPED region_spans,"
        " so scrubbing no longer orphans the span-aligned table",
    )
    ap.add_argument(
        "--diff-prev",
        dest="diff_prev_path",
        default=None,
        help="path of the PREVIOUS corpus parquet: adds diff_added/"
        "removed/changed/unchanged counters vs the newly written"
        " corpus (operators/snapshots.corpus_diff, post-write stage)",
    )
    ap.add_argument(
        "--snapshot-collapse",
        action="store_true",
        help="collapse multi-crawl inputs to the LATEST capture per"
        " canonical url (functions/urls.latest_snapshot) before"
        " extraction — stale refetches never pay kernel time; adds the"
        " dropped_stale_snapshot funnel count",
    )
    ap.add_argument(
        "--honor-meta",
        action="store_true",
        help="honor the pages' own head declarations BEFORE extraction"
        " (operators/headmeta): drop robots-noindex pages and collapse"
        " pages declaring a <link rel=canonical> elsewhere to one"
        " representative per authoritative url; adds the"
        " dropped_noindex + dropped_canonical_alias funnel counts",
    )
    ap.add_argument(
        "--outlinks",
        dest="outlinks_path",
        default=None,
        help="optional path: write the host-grain link graph"
        " (operators/linkgraph.outlinks -> host_edges) harvested from"
        " the RAW input pages — the producer feed for PageRank host"
        " ranks (jobs/linkgraph_job.py). A second, pure-JVM scan of"
        " (url, html); shares nothing with the extraction lineage",
    )
    ap.add_argument(
        "--feed-links",
        dest="feed_links_path",
        default=None,
        help="optional path: write the feed urls pages advertise in"
        " their heads (operators/headmeta.feed_links) — the discovery"
        " producer for the feed-fetch table operators/feeds harvests"
        " and frontier_job --feeds consumes. Same raw-scan side-output"
        " discipline as --outlinks",
    )
    ap.add_argument(
        "--host-ranks",
        dest="host_ranks_path",
        default=None,
        help="parquet of host ranks (node, rank — jobs/linkgraph_job"
        " output); pages on hosts ranking below --host-rank-min drop"
        " BEFORE extraction (link-graph quality prior, the blocklist"
        " shape); unranked hosts are KEPT (no evidence)",
    )
    ap.add_argument(
        "--host-rank-min",
        type=float,
        default=None,
        help="minimum host PageRank to enter extraction; requires"
        " --host-ranks",
    )
    ap.add_argument(
        "--shard-tokens",
        type=int,
        default=None,
        help="write <output>_sharded partitioned by shard_id: token-"
        "balanced training shards of ~N tokens each (operators/"
        "sampling.shard_by_tokens, deterministic hashed-url order);"
        " metered in subword tokens when --count-bpe ran, whitespace"
        " tokens otherwise",
    )
    ap.add_argument(
        "--pack-sequences",
        dest="pack_seq_tokens",
        type=int,
        default=None,
        help="write <output>_packed: the GPT-style packed-training-"
        "sequence manifest (operators/sampling.pack_sequences) over"
        " the written corpus — docs concatenate in frozen hashed order"
        " and split AT N-token sequence boundaries; metered in subword"
        " tokens when --count-bpe ran, whitespace tokens otherwise",
    )
    ap.add_argument(
        "--decontaminate",
        dest="decontaminate_path",
        default=None,
        help="optional path: parquet of benchmark/eval documents"
        " (doc_id, text); corpus docs sharing word-5-gram shingles with"
        " it are written to <output>_contaminated for exclusion",
    )
    ap.add_argument(
        "--near-dup-audit",
        default=None,
        help="optional path: write MinHash-LSH candidate pairs over the"
        " final corpus for human-thresholded near-dup review",
    )
    # --preserve-spans IS legal on pdf input: BT blocks are real
    # region_spans (sources/pdf.pdf_pages), so the span-preserving
    # boilerplate strip (page headers/footers repeated across a site's
    # PDFs) rebuilds clean text with remapped spans exactly like the
    # HTML lane
    args = jobargs.parse(ap, html_only=tuple(k for k, _, _ in SIDE_OUTPUTS))
    if args.preserve_spans and args.boilerplate_min_df is None:
        ap.error("--preserve-spans requires --boilerplate-min-df"
                 " (it selects WHICH boilerplate variant runs)")
    if (args.host_ranks_path is None) != (args.host_rank_min is None):
        ap.error("--host-ranks and --host-rank-min must be given"
                 " together (one alone would silently skip the host-"
                 "rank drop stage)")
    if args.shard_tokens is not None and args.shard_tokens < 1:
        ap.error("--shard-tokens must be >= 1")
    if args.pack_seq_tokens is not None and args.pack_seq_tokens < 1:
        ap.error("--pack-sequences must be >= 1")

    from ocrd_segment_spark.session import submit_session

    spark = submit_session("ocrd-segment-corpus")
    build_corpus(spark, **vars(args))
    spark.stop()


def _dropped(keep_col: str) -> str:
    """Funnel key of a corpus_filters stage: keep_lm -> dropped_lm."""
    return keep_col.replace("keep_", "dropped_", 1)


def _observed_write(df, agg, path: str, partition_by: str | None = None):
    """Write ``df`` to ``path`` and return ``agg`` over the written
    rows (0 on empty), computed by an Observation that rides the write
    — no re-scan of the output."""
    from pyspark.sql import Observation, functions as F

    o = Observation(path)
    writer = df.observe(o, F.coalesce(agg, F.lit(0)).alias("n")).write
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.mode("overwrite").parquet(path)
    return o.get["n"]


# ---- raw-scan side outputs: harvested from EVERY crawled page before
# any gate (a page the text funnel rejects can still carry a good link,
# feed, table or captioned image). Each is a second pure scan of the
# raw input by design: entangling it with the extraction DAG would make
# the kernel pass wait on its shuffle.
def _outlink_edges(pages, o):
    # host link graph — the PageRank producer feed (jobs/linkgraph_job
    # → --host-ranks)
    from ocrd_segment_spark.operators.linkgraph import host_edges, outlinks

    return host_edges(outlinks(pages))


def _feed_links(pages, o):
    # advertised feeds — fetched and harvested by operators/feeds into
    # frontier_job --feeds
    from ocrd_segment_spark.operators.headmeta import feed_links

    return feed_links(pages)


def _tables(pages, o):
    from ocrd_segment_spark.operators.tables import (
        table_cells,
        tables_markdown,
    )

    return tables_markdown(table_cells(pages, id_col="url"), id_col="url")


def _image_pairs(pages, o):
    from pyspark.sql import functions as F

    from ocrd_segment_spark.operators.images import (
        figure_pairs,
        image_pairs,
        with_caption_quality,
    )

    if o["honor_noai"]:
        # noimageai excludes a page from the PAIR harvest even when its
        # text is welcome (and vice versa — independent tokens)
        from ocrd_segment_spark.operators.headmeta import with_ai_optout

        pages = (
            with_ai_optout(pages)
            .filter(~F.col("image_ai_optout") & ~F.col("ai_optout"))
            .drop("ai_optout", "image_ai_optout")
        )
    # img + og + figure-caption rows, each screened by the LAION-style
    # caption rule — caption_ok lets the fetch scheduler prioritize
    # before downloading a byte
    return with_caption_quality(
        image_pairs(pages).unionByName(figure_pairs(pages))
    )


# (build_corpus keyword of the output path, funnel key, builder)
SIDE_OUTPUTS = (
    ("outlinks_path", "outlink_edges", _outlink_edges),
    ("feed_links_path", "feed_links_found", _feed_links),
    ("tables_path", "tables_extracted", _tables),
    ("image_pairs_path", "image_pairs_found", _image_pairs),
)


# ---- post-write tables over the committed corpus
def _clean(corpus, min_doc_freq: int, preserve_spans: bool):
    # C4-style cross-document boilerplate strip. --preserve-spans
    # removes frequent REGIONS and emits REMAPPED region_spans that
    # slice clean_text exactly (region structure survives cleaning);
    # the line-based strip stays for span-less corpora
    from ocrd_segment_spark.operators.paragraphs import (
        remove_frequent_regions,
        remove_frequent_units,
    )

    if preserve_spans:
        return remove_frequent_regions(
            corpus, id_col="url", text_col="extracted_text",
            spans_col="region_spans", min_doc_freq=min_doc_freq,
        )
    return remove_frequent_units(
        corpus, id_col="url", text_col="extracted_text",
        min_doc_freq=min_doc_freq,
    )


def _near_dup_pairs(corpus):
    # LSH-then-verify: MinHash-LSH proposes candidate pairs (hot-bucket
    # capped), exact 3-gram Jaccard is scored for just those, so no
    # corpus self-join exists in the plan. Audit-only, never a drop
    from ocrd_segment_spark.operators.dedup import (
        _shingle_table,
        jaccard_verify_pairs,
        minhash_lsh_candidates,
    )

    # shingle sets derive ONCE (localCheckpoint) — the blocker's band
    # self-join and the verifier's two join sides would otherwise each
    # re-derive the tokenize→fold→shingle chain (4 full scans)
    sh = _shingle_table(
        corpus, "url", "extracted_text", 3
    ).localCheckpoint(eager=True)
    cands = minhash_lsh_candidates(
        corpus, id_col="url", text_col="extracted_text", shingles=sh
    )
    return jaccard_verify_pairs(
        corpus, cands, id_col="url", text_col="extracted_text", shingles=sh
    )


def build_corpus(
    spark,
    input_path: str,
    output_path: str,
    stats_path: str | None = None,
    input_format: str = "pages",
    min_quality: float = 0.5,
    min_tokens: int = 5,
    langs: list[str] | None = None,
    lang_margin: float | None = None,
    preserve_pre: bool = False,
    gopher: bool = False,
    blocklist_path: str | None = None,
    entropy_min: float | None = None,
    lm_ref_path: str | None = None,
    lm_max_bits: float | None = None,
    max_compression: float | None = None,
    quality_clf: bool = False,
    script_screen: bool = False,
    drop_soft404: bool = False,
    honor_noai: bool = False,
    tables_path: str | None = None,
    image_pairs_path: str | None = None,
    count_bpe: bool = False,
    bpe_vocab_path: str | None = None,
    card: bool = False,
    host_priors: bool = False,
    boilerplate_min_df: int | None = None,
    preserve_spans: bool = False,
    redact_pii: bool = False,
    decontaminate_path: str | None = None,
    near_dup_audit: str | None = None,
    snapshot_collapse: bool = False,
    sniff_charset: bool = False,
    sniff_content_type: bool = False,
    diff_prev_path: str | None = None,
    honor_meta: bool = False,
    outlinks_path: str | None = None,
    feed_links_path: str | None = None,
    host_ranks_path: str | None = None,
    host_rank_min: float | None = None,
    shard_tokens: int | None = None,
    pack_seq_tokens: int | None = None,
    python_parallelism: int | None = None,
) -> dict:
    """The pipeline body (importable for tests). Returns the funnel
    counts dict that is also written to ``stats_path``."""
    # the keyword values, read by the gate and side-output tables; the
    # batch --honor-meta turns on both the noindex and the alias gate
    opts = dict(locals(), honor_noindex=honor_meta)
    from pyspark.sql import Observation, Window as W, functions as F

    from ocrd_segment_spark.operators.corpus_filters import (
        KEEP_COLS,
        keep_all,
        page_scorer,
    )
    from ocrd_segment_spark.operators.pre_gates import GATES, is_set

    pages = spark.read.parquet(input_path)
    side_counts = {
        key: _observed_write(build(pages, opts), F.count(F.lit(1)), opts[kw])
        if opts[kw] is not None
        else -1
        for kw, key, build in SIDE_OUTPUTS
    }
    # gates → extract (+ language id) → keep_* flags → BPE metering: ONE
    # definition with the stream job. Every row keeps its flags (the
    # funnel counts each stage's drops), and the gate drop counts ride
    # the terminal write as one Observation
    scored, gate_obs = page_scorer(spark, opts, streaming=False)(pages)

    # funnel counters ride the write action as an Observation — the
    # extraction (the expensive stage) runs exactly ONCE. Precedence
    # chain folded over KEEP_COLS: each stage counts only docs that
    # survived every earlier stage, so the funnel always reconciles
    def total(cond):
        # coalesce guards the zero-row input (sum over no rows is NULL)
        return F.coalesce(F.sum(cond.cast("long")), F.lit(0))

    aggs = [F.count(F.lit(1)).alias("pages")]
    passed = F.lit(True)
    for c in KEEP_COLS:
        aggs.append(total(passed & ~F.col(c)).alias(_dropped(c)))
        passed = passed & F.col(c)
    obs = Observation("funnel")
    scored = scored.observe(
        obs,
        *aggs,
        total(keep_all()).alias("kept_after_filters"),
        F.coalesce(
            F.sum(F.when(keep_all(), F.col("n_bpe_tokens"))),
            F.lit(0),
        ).alias("kept_bpe_tokens"),
    )
    # the conjunction and the drop list come from the SHARED module —
    # a stage added to with_keep_flags/KEEP_COLS is then enforced here
    # automatically (review pass 4: the hand-rolled copies were the
    # same drift channel the shared chain was created to close)
    kept = scored.filter(keep_all())

    # exact dedup, canonical row kept: rank within content hash by url
    # (deterministic) — one shuffle, fine-grained key, no global sort
    w = W.partitionBy(F.md5("extracted_text")).orderBy("url")
    deduped = (
        kept.withColumn("_rn", F.row_number().over(w))
        .withColumn("is_canonical", F.col("_rn") == 1)
    )
    out = deduped.filter("is_canonical").drop(
        "_rn", "is_canonical", *KEEP_COLS,
        *([] if count_bpe else ["n_bpe_tokens"]),
    )
    # the corpus row count rides the SAME write action as a second
    # Observation — no re-scan of the written output (at 100 TB a
    # readback .count() is a full extra pass over the corpus)
    out_obs = Observation("out_count")
    out = out.observe(out_obs, F.count(F.lit(1)).alias("n_out"))
    out.write.mode("overwrite").parquet(output_path)

    counts = obs.get
    n_out = out_obs.get["n_out"]
    # -1 = stage not run (fixed-schema discipline, see below); a real
    # 0 means the stage ran and dropped nothing
    stage_ran = {
        "keep_entropy": entropy_min is not None,
        "keep_lm": lm_ref_path is not None and lm_max_bits is not None,
        "keep_compression": max_compression is not None,
        "keep_clf": quality_clf,
        "keep_script": script_screen,
    }
    gate_counts = gate_obs.get if gate_obs is not None else {}
    funnel = {
        # the pre-extraction gates in gate order, then the raw-scan side
        # outputs; pages = pages ENTERING extraction
        **{g.key: gate_counts.get(g.key, -1) for g in GATES if g.key},
        **side_counts,
        "pages": counts["pages"],
    }
    # the stats column order predates the script screen, whose count
    # was appended after the other quality stages
    for c in (*(c for c in KEEP_COLS if c != "keep_script"), "keep_script"):
        funnel[_dropped(c)] = (
            counts[_dropped(c)] if stage_ran.get(c, True) else -1
        )
    funnel["kept_after_filters"] = counts["kept_after_filters"]
    # subword total of everything passing the filters (pre-dedup;
    # dedup canonicals keep their counts in the output table)
    funnel["kept_bpe_tokens"] = counts["kept_bpe_tokens"] if count_bpe else -1
    funnel["dropped_exact_dup"] = counts["kept_after_filters"] - n_out
    funnel["corpus_docs"] = n_out
    # stats schema is FIXED regardless of flags (append-mode parquet
    # readback resolves the schema from one file footer — conditional
    # keys would be nondeterministically dropped); -1 = stage not run
    for k in (
        "near_dup_candidates", "boilerplate_units_removed",
        "boilerplate_regions_removed", "pii_docs_redacted",
        "contaminated_docs", "shards_written", "sequences_packed",
        "diff_added", "diff_removed", "diff_changed", "diff_unchanged",
    ):
        funnel[k] = -1
    # post-write stages read the COMMITTED corpus: they never branch the
    # live lineage, so re-extraction is never triggered
    corpus = partial(spark.read.parquet, output_path)
    if diff_prev_path is not None:
        # snapshot-over-snapshot delta vs a PREVIOUS corpus (post-write
        # pattern: both sides read committed parquet; the full-outer
        # join carries (url, md5) only — operators/snapshots). The
        # summary collect is 4 rows.
        from ocrd_segment_spark.operators.snapshots import (
            corpus_diff,
            diff_summary,
        )

        d = corpus_diff(
            spark.read.parquet(diff_prev_path),
            corpus(),
            key_col="url",
            text_col="extracted_text",
        )
        for r in diff_summary(d).collect():
            funnel[f"diff_{r['status']}"] = r["n_urls"]
    # post-write tables, each count riding its own write. The PII scrub
    # runs after the boilerplate strip: it scrubs the furthest-
    # downstream span-aligned table, _clean when --preserve-spans
    # wrote one.
    from ocrd_segment_spark.functions.pii import redact_pii_spans
    from ocrd_segment_spark.operators.decontaminate import (
        contamination_flags,
    )
    from ocrd_segment_spark.operators.sampling import (
        pack_sequences,
        shard_by_tokens,
    )

    tok_col = "n_bpe_tokens" if count_bpe else "n_tokens"
    spans_clean = boilerplate_min_df is not None and preserve_spans
    # (option, funnel key, output path, agg over written rows, builder,
    # partition column). Shard and sequence ids are contiguous from 0,
    # so max + 1 counts them
    for on, key, path, agg, build, part in (
        (shard_tokens, "shards_written", output_path + "_sharded",
         F.max("shard_id") + 1, lambda: shard_by_tokens(
             corpus(), shard_tokens, token_col=tok_col, key_col="url"),
         "shard_id"),
        (pack_seq_tokens, "sequences_packed", output_path + "_packed",
         F.max("seq_id") + 1, lambda: pack_sequences(
             corpus(), pack_seq_tokens, token_col=tok_col, key_col="url"),
         None),
        # eval-set overlap is an audit table: dropping those docs is a
        # reviewed decision, not an automatic one
        (decontaminate_path, "contaminated_docs",
         output_path + "_contaminated", F.count(F.lit(1)),
         lambda: contamination_flags(
             corpus(), spark.read.parquet(decontaminate_path), id_col="url",
             text_col="extracted_text", benchmark_text_col="text",
         ).filter("contaminated"), None),
        (boilerplate_min_df,
         "boilerplate_regions_removed" if preserve_spans
         else "boilerplate_units_removed",
         output_path + "_clean", F.sum("n_removed"),
         lambda: _clean(corpus(), boilerplate_min_df, preserve_spans), None),
        (redact_pii, "pii_docs_redacted", output_path + "_redacted",
         F.sum((F.col("n_pii_regions") > 0).cast("long")),
         lambda: redact_pii_spans(
             spark.read.parquet(output_path + "_clean"),
             text_col="clean_text",
         ) if spans_clean else redact_pii_spans(corpus()), None),
        (near_dup_audit, "near_dup_candidates", near_dup_audit,
         F.count(F.lit(1)), lambda: _near_dup_pairs(corpus()), None),
    ):
        if is_set(on):
            funnel[key] = _observed_write(build(), agg, path, part)
    if card:
        # per-language dataset card: one cheap aggregate scan
        from ocrd_segment_spark.operators.textstats import corpus_card

        corpus_card(
            corpus(),
            lang_col="pred_lang",
            text_col="extracted_text",
        ).write.mode("overwrite").parquet(output_path + "_card")
    if host_priors:
        # host-grain content priors over the WRITTEN corpus (same
        # post-write discipline); host grain is tiny, the output
        # broadcasts into the next crawl's frontier/blocklist
        from ocrd_segment_spark.operators.hoststats import (
            host_quality_priors,
        )

        host_quality_priors(corpus()).write.mode("overwrite").parquet(
            output_path + "_host_priors"
        )
    if stats_path is not None:
        spark.createDataFrame([funnel]).write.mode("append").parquet(stats_path)
    return funnel


if __name__ == "__main__":
    main()
