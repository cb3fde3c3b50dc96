"""Physical-plan audits (SURVEY.md §4.2): the scale properties are
pinned as tests — pushdown, pruning, broadcast, and shuffle-freedom of
the narrow extract path."""

import pytest
from pyspark.sql import functions as F

from ocrd_segment_spark import contract as C
from ocrd_segment_spark.pipeline import extract_pages
from ocrd_segment_spark.plans import audit

SF = "/root/testdata/sf0.01"


def test_extract_path_has_no_exchange(spark, tmp_path):
    from ocrd_segment_spark.fixtures import pages_pandas

    src = str(tmp_path / "pages")
    spark.createDataFrame(pages_pandas(10)).write.parquet(src)
    out = extract_pages(spark.read.parquet(src))
    assert not audit.has_exchange(out)  # scan → project → mapInPandas only


def test_extract_prunes_columns_at_scan(spark, tmp_path):
    from ocrd_segment_spark.fixtures import pages_pandas

    src = str(tmp_path / "pages")
    spark.createDataFrame(pages_pandas(10)).write.parquet(src)
    out = extract_pages(spark.read.parquet(src))
    rs = audit.read_schema(out)
    assert "html" in rs and "url" in rs
    # text/lang/warc_ts never cross the scan
    assert "warc_ts" not in rs and "lang" not in rs


def test_filter_pushdown_reaches_parquet(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("lang") == "en"
    ).select("doc_id")
    pf = audit.pushed_filters(docs)
    assert "lang" in pf  # IsNotNull(lang), EqualTo(lang,en)
    rs = audit.read_schema(docs)
    assert "text" not in rs  # pruned


def test_small_dim_join_is_broadcast(spark):
    j = C.q_j4_key_fallback_join(spark, SF)
    assert audit.broadcast_join_count(j) >= 2  # both nation joins


def test_pricing_two_phase_agg_and_codegen(spark):
    q = C.q_a_pricing_summary(spark, SF)
    plan = audit.physical_plan(q)
    # partial+final hash aggregation around one Exchange (§4.2)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan and "partial_sum" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan


def test_coco_export_has_no_global_sort_of_corpus(spark, tmp_path):
    """S9 scale audit: image/annotation id windows must be partitioned
    (bucketed ranked_ids) — the only unpartitioned windows allowed are
    over bounded sides (category vocabulary, per-bucket counts)."""
    from ocrd_segment_spark.fixtures import pages_pandas
    from ocrd_segment_spark.sources.coco import export_coco

    src = str(tmp_path / "pages")
    spark.createDataFrame(pages_pandas(30)).write.parquet(src)
    out = extract_pages(spark.read.parquet(src))
    images, annotations, _ = export_coco(out)
    for df in (images, annotations):
        for inp in audit.unpartitioned_window_inputs(df):
            # corpus-scale columns never feed a global window
            assert "url#" not in inp and "html" not in inp, inp
            assert "_cnt#" in inp or "cat_name#" in inp or "name#" in inp, inp
    # and the fact-side id windows exist and ARE partitioned
    assert "Window" in audit.physical_plan(annotations)


def test_narrow_query_is_codegen(spark):
    # AQE defers planning behind AdaptiveSparkPlan (codegen reported 0
    # pre-execution), so codegen is pinned on a narrow no-exchange query
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("n_chars") > 100)
        .select("doc_id", (F.col("n_chars") * 2).alias("x"))
    )
    assert audit.whole_stage_codegen_subtrees(docs) >= 1


def test_map_summary_broadcasts_thresholds(spark):
    """eval AP/AR sweep: the thresholds side must broadcast (nested-
    loop on iou > t), never shuffle the pair table against it."""
    from ocrd_segment_spark.contract import _gt_dt_from_documents
    from ocrd_segment_spark.operators.evaluate import map_summary

    gt, dt = _gt_dt_from_documents(spark, SF)
    plan = audit.physical_plan(map_summary(gt, dt))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_apply_coco_has_no_global_window(spark, tmp_path):
    """from-coco processor scale audit: no unpartitioned window over a
    corpus-scale input; categories side broadcast."""
    from ocrd_segment_spark.fixtures import pages_pandas
    from ocrd_segment_spark.sources.coco import apply_coco_segmentation, export_coco

    src = str(tmp_path / "pages")
    spark.createDataFrame(pages_pandas(30)).write.parquet(src)
    out = extract_pages(spark.read.parquet(src))
    images, annotations, categories = export_coco(out)
    applied = apply_coco_segmentation(out, images, annotations, categories)
    for inp in audit.unpartitioned_window_inputs(applied):
        assert "url#" not in inp and "html" not in inp, inp
        assert "_cnt#" in inp or "cat_name#" in inp or "name#" in inp, inp
    assert audit.broadcast_join_count(applied) >= 1


def test_styled_extract_path_has_no_exchange(spark, tmp_path):
    """TextStyle pipeline is the same narrow plan as plain extraction."""
    from ocrd_segment_spark.fixtures import pages_pandas
    from ocrd_segment_spark.config import ExtractParams

    src = str(tmp_path / "pages")
    spark.createDataFrame(pages_pandas(12)).write.parquet(src)
    df = extract_pages(spark.read.parquet(src), ExtractParams(style_spans=True))
    assert not audit.has_exchange(df), audit.physical_plan(df)


def test_near_duplicates_plan_has_no_theta_join(spark):
    """LSH-then-verify scale audit: every join in the near-dup plan is
    an equi-join (band-bucket collision or doc-id pair attach) — no
    cartesian/nested-loop corpus self-join anywhere, unlike blocked
    ngram_jaccard_pairs whose blocks are quadratic."""
    from ocrd_segment_spark.operators.dedup import near_duplicates

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = audit.physical_plan(near_duplicates(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_requires_explicit_blocking(spark):
    """The all-pairs footgun is no longer reachable by default:
    block_cols must be chosen by the caller."""
    from ocrd_segment_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(TypeError):
        ngram_jaccard_pairs(docs)  # no block_cols → refuse


def test_domain_cap_windows_are_partitioned(spark):
    """domain_cap's two windows must both be PARTITIONED (the whole
    point is that no stage sorts a hot domain — or the corpus —
    through one task); scoring is JVM-side."""
    from ocrd_segment_spark.operators.sampling import domain_cap

    d = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "concat('d', cast(doc_id % 7 as string)) as reg_domain"
    )
    out = domain_cap(d, 3)
    assert audit.unpartitioned_window_inputs(out) == []
    plan = audit.physical_plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_budget_has_no_global_window(spark):
    """token_budget_sample: the running sum must be group-partitioned
    (the distributed prefix-sum), never a corpus-wide ORDER BY window;
    the offsets join is broadcast."""
    from ocrd_segment_spark.operators.sampling import token_budget_sample

    d = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "cast(length(text) as bigint) as n_tokens"
    )
    out = token_budget_sample(d, 50000)
    assert audit.unpartitioned_window_inputs(out) == []
    assert audit.broadcast_join_count(out) >= 1


def test_host_and_domain_blocklists_are_broadcast(spark):
    from ocrd_segment_spark.functions.urls import (
        with_domain_blocked,
        with_host_blocked,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "concat('https://h', cast(doc_id % 9 as string),"
        " '.example.org/p') as url"
    )
    bl = spark.createDataFrame([("h1.example.org",)], "domain string")
    assert audit.broadcast_join_count(
        with_host_blocked(d, bl, host_col="domain")
    ) >= 1
    assert audit.broadcast_join_count(with_domain_blocked(d, bl)) >= 1


def test_quality_classifier_is_pure_jvm(spark):
    """The learned classifier must stay inside the scan stage: no
    Python eval nodes, no Exchange."""
    from ocrd_segment_spark.operators.quality_clf import (
        with_quality_classifier,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = with_quality_classifier(d).select("doc_id", "clf_logit")
    plan = audit.physical_plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert not audit.has_exchange(out)


def test_sentence_spans_is_narrow_codegen(spark):
    """Sentence segmentation must be scan-stage column math: no
    shuffle anywhere (the explode is in-place) and the expression
    chain lives inside whole-stage codegen (the HOF lambdas only
    touch bound attributes, the rebuild_with_spans discipline)."""
    from ocrd_segment_spark.operators.sentences import sentence_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = sentence_spans(docs)
    assert not audit.has_exchange(out)
    assert audit.whole_stage_codegen_subtrees(out) >= 1


def test_punct_fold_is_narrow(spark):
    from ocrd_segment_spark.functions.normalize import with_punct_fold

    out = with_punct_fold(
        spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    )
    assert not audit.has_exchange(out)


def test_corpus_diff_shuffles_digests_not_text(spark):
    """The full-outer join must consume the pre-projected (key,
    digest) frames: no text column crosses the exchange, and each
    side reads only (url, text) at the scan."""
    from ocrd_segment_spark.operators.snapshots import corpus_diff

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "concat('u', doc_id) as url", "text"
    )
    out = corpus_diff(docs, docs)
    plan = audit.physical_plan(out)
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)
    assert "md5" in plan


def test_sitemap_entries_single_partial_agg(spark):
    """One shuffle (the dedupe groupBy) with a map-side partial
    aggregate before it — harvest itself is scan-stage."""
    from ocrd_segment_spark.operators.sitemaps import sitemap_entries

    fetched = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "concat('h', doc_id) as host",
        "cast(concat('<urlset><url><loc>u', doc_id, '</loc></url></urlset>') as binary) as body",
    )
    out = sitemap_entries(fetched)
    assert audit.exchange_count(out) == 1
    plan = audit.physical_plan(out)
    assert "partial_min" in plan or "HashAggregate" in plan


def test_bpe_pair_count_round_is_one_shuffle(spark):
    """One training round's pair count: explode + ONE exchange with
    map-side partial sum (the take-ordered argmax adds no extra
    shuffle of the pair table)."""
    from pyspark.sql import functions as F
    from ocrd_segment_spark.operators.bpe import _PAIRS_EXPR, word_freqs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("text")
    seqs = word_freqs(docs).selectExpr(
        "n", "array_join(split(word, ''), chr(31)) as seq"
    )
    pairs = (
        seqs.withColumn("__parts", F.expr("split(seq, chr(31))"))
        .select("n", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
        .groupBy(F.col("p.a").alias("lhs"), F.col("p.b").alias("rhs"))
        .agg(F.sum("n").alias("cnt"))
    )
    # word_freqs costs one exchange, the pair count one more — never a
    # third (no join, no window in the round's hot path)
    assert audit.exchange_count(pairs) == 2


def test_crawl_waves_window_is_host_partitioned(spark):
    """crawl_waves ranks WITHIN hosts — the window must be keyed (an
    unpartitioned row_number is a single-task global sort)."""
    from ocrd_segment_spark.operators.robots import crawl_waves

    frontier = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "concat('u', doc_id) as url",
        "concat('h', doc_id % 7) as host",
        "cast(null as string) as lastmod",
        "cast(1.0 as double) as crawl_delay",
    )
    out = crawl_waves(frontier)
    assert audit.unpartitioned_window_inputs(out) == []


def test_jsonld_harvest_is_narrow(spark):
    """jsonld_types is scan-stage column math: regexp + posexplode +
    JSON path extraction, zero Exchange."""
    from ocrd_segment_spark.operators.headmeta import jsonld_types

    pages = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "concat('u', doc_id) as url",
        "cast('<script type=\"application/ld+json\">{}</script>' as binary) as html",
    )
    assert not audit.has_exchange(jsonld_types(pages))


def test_hll_group_build_single_exchange(spark):
    """Per-group register build: ONE (group, reg)-keyed exchange with
    map-side partial max; the estimate adds the group-grain aggregate
    and nothing else (never a distinct over the key column)."""
    from ocrd_segment_spark.operators.sketches import hll_distinct_by

    d = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "concat('h', doc_id % 7) as host", "concat('u', doc_id) as url"
    )
    out = hll_distinct_by(d, ("host",), key_col="url", r=64)
    assert audit.exchange_count(out) == 2  # registers + estimate
    plan = audit.physical_plan(out)
    assert "partial_max" in plan or "HashAggregate" in plan


def test_cms_build_partial_aggregated(spark):
    """Sketch build: the (i, col) shuffle is partial-summed map-side —
    at most d*w rows per map partition cross the wire."""
    from pyspark.sql import functions as F
    from ocrd_segment_spark.operators.sketches import cms_build

    toks = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.explode(F.expr("filter(split(text, ' '), x -> x != '')")).alias(
            "term"
        )
    )
    sketch = cms_build(toks, d=4, w=256)
    assert audit.exchange_count(sketch) == 1
    plan = audit.physical_plan(sketch)
    assert "partial_count" in plan or "HashAggregate" in plan


def test_mixture_apply_weight_join_broadcast(spark):
    """apply_mixture's keep-prob join is languages-grain broadcast;
    the row filter itself adds no exchange on the corpus side."""
    from ocrd_segment_spark.operators.sampling import (
        apply_mixture,
        lang_mixture_weights,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    w = lang_mixture_weights(d, tokens_col="n_chars")
    out = apply_mixture(d, w)
    assert audit.broadcast_join_count(out) >= 1
    assert "CartesianProduct" not in audit.physical_plan(out)


def test_content_type_sniff_pushes_no_python(spark):
    """The sniffer is one projection: no Exchange, no Python stage
    (BatchEvalPython/ArrowEvalPython absent from the plan)."""
    from ocrd_segment_spark.functions.multimodal import with_content_type

    pages = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "cast(text as binary) as html"
    )
    out = with_content_type(pages)
    plan = audit.physical_plan(out)
    assert not audit.has_exchange(out)
    assert "EvalPython" not in plan


def test_session5_operator_plans(spark):
    """Exchange budgets of the round-5 session-5 operators: discovery
    harvests are scan + ONE partial-agg exchange; host priors pay two
    (the (host,lang) then host grains); the PDF lane is narrow."""
    from ocrd_segment_spark.operators.feeds import feed_entries
    from ocrd_segment_spark.operators.hoststats import host_quality_priors
    from ocrd_segment_spark.operators.sitemaps import sitemap_url_hints
    from ocrd_segment_spark.operators.urltraps import template_stats
    from ocrd_segment_spark.sources.pdf import pdf_pages

    feeds = spark.createDataFrame(
        [("a.org", b"<rss><channel><item><link>https://a.org/x</link>"
          b"</item></channel></rss>")],
        "host string, body binary",
    )
    assert audit.exchange_count(feed_entries(feeds)) == 1
    assert audit.exchange_count(sitemap_url_hints(
        feeds.selectExpr("host", "cast('<urlset></urlset>' as binary) as body")
    )) == 1

    urls = spark.createDataFrame([("https://a.org/p/1",)], "url string")
    assert audit.exchange_count(template_stats(urls)) == 1

    docs = spark.createDataFrame(
        [("https://a.org/p", 0.5, "en")],
        "url string, quality double, pred_lang string",
    )
    assert audit.exchange_count(host_quality_priors(docs)) == 2

    blobs = spark.createDataFrame(
        [("u", bytearray(b"%PDF-1.4"))], "url string, data binary"
    )
    # the PDF lane is a narrow codec stage: zero exchanges
    assert audit.exchange_count(pdf_pages(blobs)) == 0


def test_session6_operator_plans(spark):
    """Plan shapes of this session's operators: DSIR scoring joins its
    B-row ratio table BROADCAST (no shuffle on the gram stream beyond
    the per-doc partial agg); dsir_select plans TakeOrdered, not a
    global sort; mirror_hosts' pair join is fingerprint-keyed;
    c4_line_clean is fully narrow (zero exchanges, zero Python)."""
    from ocrd_segment_spark.operators.dsir import (
        dsir_logweights, dsir_select, fit_dsir_model,
    )
    from ocrd_segment_spark.operators.hoststats import mirror_hosts
    from ocrd_segment_spark.operators.paragraphs import c4_line_clean

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta")],
        "doc_id long, text string",
    )
    t = fit_dsir_model(docs.filter("doc_id = 1"), n_buckets=64)
    r = fit_dsir_model(docs, n_buckets=64)
    w = dsir_logweights(docs, t, r, n_buckets=64)
    plan = audit.physical_plan(w)
    assert audit.broadcast_join_count(w) >= 1
    assert "EvalPython" not in plan
    sel = dsir_select(w, 1)
    assert "TakeOrderedAndProject" in audit.physical_plan(sel)

    pages = spark.createDataFrame(
        [("https://a.org/p", "body text")], "url string, text string"
    )
    assert "EvalPython" not in audit.physical_plan(mirror_hosts(pages))

    c4 = c4_line_clean(docs)
    assert not audit.has_exchange(c4)
    assert "EvalPython" not in audit.physical_plan(c4)


def test_page_content_operators_exchange_budgets(spark):
    """Session-6 operators keep their stated shuffle shapes: script
    mix and soft-404 are zero-Exchange scan-stage column math; the
    heading outline pays exactly ONE page-keyed window exchange; the
    table/list markdown serializations pay their two/one id-grain
    group exchanges and nothing more."""
    from ocrd_segment_spark.operators.outline import heading_outline
    from ocrd_segment_spark.operators.scriptmix import with_script_mix
    from ocrd_segment_spark.operators.softerrors import (
        soft404_page_stage,
        with_soft404,
    )
    from ocrd_segment_spark.operators.tables import (
        list_items,
        lists_markdown,
        table_cells,
        tables_markdown,
    )
    from ocrd_segment_spark.plans.audit import (
        exchange_count,
        unpartitioned_window_inputs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pages = docs.selectExpr(
        "doc_id", "cast(text as binary) as html", "text"
    )
    assert exchange_count(with_script_mix(docs)) == 0
    assert exchange_count(with_soft404(docs, title_col=None)) == 0
    assert exchange_count(soft404_page_stage(pages)) == 0
    assert exchange_count(table_cells(pages)) == 0
    assert exchange_count(list_items(pages)) == 0
    outline = heading_outline(pages)
    assert exchange_count(outline) == 1
    assert unpartitioned_window_inputs(outline) == []
    assert exchange_count(tables_markdown(table_cells(pages))) == 2
    assert exchange_count(lists_markdown(list_items(pages))) == 1
