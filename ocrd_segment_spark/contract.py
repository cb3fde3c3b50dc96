"""Driver-contract queries: one per operator family of SURVEY.md §2,
plus the training-data-pipeline operators (dedup / similarity /
multimodal / text analysis), each with a DuckDB-checkable oracle.

Conventions (driver compares row-count + schema + order-insensitive
value hash at sf0.01):

- every computed column is aliased IDENTICALLY in the Spark query and
  the oracle SQL;
- floating-point outputs are produced by the SAME left-to-right fold
  order on both sides and rounded to 6 decimals; money sums go through
  DECIMAL(18,4) so they are exact;
- queries over the extraction kernel synthesize deterministic HTML
  from the ``documents`` table IN SQL, so the oracle can state the
  expected extraction in closed form — the kernel itself stays the
  single frozen implementation.

Query keys are prefixed with the SURVEY.md §2 operator ids they cover
(g7 = consistency clip, j1 = fileGrp align join, w1 = reading order,
a1 = match stats, ...).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .config import DEFAULT_PARAMS
from .pipeline import extract_pages


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Extraction family — the kernel driven through SQL-synthesized HTML
# ---------------------------------------------------------------------------

# DuckDB expression for the kernel's whitespace collapse of `text`
_SQL_COLLAPSE = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"


def _pages_from_documents(spark, sf_dir, html_expr: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.expr(html_expr).cast("binary").alias("html"),
    )


def q_extract_single_para(spark, sf_dir):
    """S1+S7: minimal end-to-end extraction — one <p> per document;
    expected text = whitespace-collapsed source text."""
    pages = _pages_from_documents(
        spark, sf_dir, "concat('<html><body><p>', text, '</p></body></html>')"
    )
    out = extract_pages(pages)
    return out.select(
        F.col("url").cast("long").alias("doc_id"), "extracted_text"
    )


O_EXTRACT_SINGLE_PARA = f"""
SELECT doc_id, {_SQL_COLLAPSE} AS extracted_text FROM documents
"""


def q_extract_boiler_reading_order(spark, sf_dir):
    """P1+P5 analog + W1: nav (rtype drop) and link-farm (density
    drop) removed; heading then paragraph serialize in reading order."""
    html_expr = (
        "concat('<html><body>"
        "<nav><ul><li><a href=\"/m\">menu one</a> <a href=\"/n\">menu two</a></li></ul></nav>"
        "<h1>', source, '</h1>"
        "<p><a href=\"/q\">', source, ' ', source, '</a></p>"
        "<p>', text, '</p></body></html>')"
    )
    pages = _pages_from_documents(spark, sf_dir, html_expr)
    out = extract_pages(pages)
    return out.select(F.col("url").cast("long").alias("doc_id"), "extracted_text")


O_EXTRACT_BOILER = f"""
SELECT doc_id, source || chr(10) || {_SQL_COLLAPSE} AS extracted_text FROM documents
"""


def q_extract_containment_repair(spark, sf_dir):
    """J2/G7 analog: mixed <div> (direct text + nested <p>) — the
    contained <p> span is deleted by plausibilize; the div serializes
    once covering both."""
    html_expr = (
        "concat('<html><body><main><div>', text, ' <p>', text,"
        " '</p></div></main></body></html>')"
    )
    pages = _pages_from_documents(spark, sf_dir, html_expr)
    out = extract_pages(pages)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        "extracted_text",
        F.col("lineage.n_candidates").cast("long").alias("n_candidates"),
        F.col("lineage.n_kept").cast("long").alias("n_kept"),
    )


O_EXTRACT_CONTAINMENT = f"""
WITH c AS (SELECT doc_id, {_SQL_COLLAPSE} AS t FROM documents)
SELECT doc_id, t || ' ' || t AS extracted_text,
       2 AS n_candidates, 1 AS n_kept
FROM c
"""


def q_extract_region_spans(spark, sf_dir):
    """S8/P9 analog: exploded per-region description records with
    re-offset spans (G17)."""
    html_expr = (
        "concat('<html><body>"
        "<nav><ul><li><a href=\"/m\">menu one</a> <a href=\"/n\">menu two</a></li></ul></nav>"
        "<h1>', source, '</h1>"
        "<p><a href=\"/q\">', source, ' ', source, '</a></p>"
        "<p>', text, '</p></body></html>')"
    )
    pages = _pages_from_documents(spark, sf_dir, html_expr)
    out = extract_pages(pages)
    r = out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.explode("region_spans").alias("r"),
    )
    return r.select(
        "doc_id",
        F.col("r.region_id").alias("region_id"),
        F.col("r.rtype").alias("rtype"),
        F.col("r.subtype").alias("subtype"),
        F.col("r.start").cast("long").alias("span_start"),
        F.col("r.end").cast("long").alias("span_end"),
        F.col("r.order").cast("long").alias("ord"),
    )


O_EXTRACT_SPANS = f"""
WITH c AS (SELECT doc_id, source, {_SQL_COLLAPSE} AS t FROM documents)
SELECT doc_id, 'r0008' AS region_id, 'heading' AS rtype, 'h1' AS subtype,
       CAST(0 AS BIGINT) AS span_start, CAST(length(source) AS BIGINT) AS span_end,
       CAST(0 AS BIGINT) AS ord
FROM c
UNION ALL
SELECT doc_id, 'r0011', 'paragraph', 'p',
       CAST(length(source) + 1 AS BIGINT),
       CAST(length(source) + 1 + length(t) AS BIGINT), CAST(1 AS BIGINT)
FROM c
"""


# ---------------------------------------------------------------------------
# Interval geometry family (G-series) as native column math
# ---------------------------------------------------------------------------

def q_g7_consistency_clip(spark, sf_dir):
    """G7 ensure_consistent (reference repair.py:667-734): clamp child
    spans to parents, aggregate clipped length per lang."""
    d = _t(spark, sf_dir, "documents")
    child = d.select(
        "doc_id",
        "lang",
        F.expr("n_chars div 4").alias("cs"),
        (F.col("n_chars") + 10).alias("ce"),
        F.lit(0).alias("ps"),
        F.col("n_chars").alias("pe"),
    )
    clipped = child.select(
        "doc_id",
        "lang",
        F.greatest("cs", "ps").alias("s"),
        F.least("ce", "pe").alias("e"),
    )
    return clipped.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("clipped_len"),
    )


O_G7_CLIP = """
SELECT lang, count(*) AS n,
       CAST(sum(n_chars - (n_chars // 4)) AS BIGINT) AS clipped_len
FROM documents GROUP BY lang
"""


def q_j6_iou_match(spark, sf_dir):
    """J6/G23 (reference evaluate.py:374-404): GT×DT interval IoU with
    the 0.5 triple-threshold match rule, per-category (lang) stats."""
    d = _t(spark, sf_dir, "documents")
    spans = d.select(
        "doc_id",
        "lang",
        F.lit(0).alias("gs"),
        F.col("n_chars").alias("ge"),
        F.expr("n_chars div 5").alias("ds"),
        F.expr("n_chars - n_chars div 10").alias("de"),
    )
    m = spans.select(
        "lang",
        (F.least("ge", "de") - F.greatest("gs", "ds")).alias("inter"),
        (F.col("ge") - F.col("gs")).alias("glen"),
        (F.col("de") - F.col("ds")).alias("dlen"),
    ).select(
        "lang",
        (F.col("inter") / (F.col("glen") + F.col("dlen") - F.col("inter"))).alias("iou"),
        (F.col("inter") / F.col("glen")).alias("io_gt"),
        (F.col("inter") / F.col("dlen")).alias("io_dt"),
    )
    matched = m.withColumn(
        "is_match",
        ((F.col("iou") > 0.5) | (F.col("io_gt") > 0.5) | (F.col("io_dt") > 0.5)).cast("long"),
    )
    return matched.groupBy("lang").agg(
        F.count("*").alias("n_pairs"),
        F.sum("is_match").alias("n_matched"),
        F.round(F.avg("iou"), 6).alias("avg_iou"),
    )


O_J6_IOU = """
WITH m AS (
  SELECT lang,
         least(n_chars, n_chars - n_chars // 10) - greatest(0, n_chars // 5) AS inter,
         n_chars - 0 AS glen,
         (n_chars - n_chars // 10) - (n_chars // 5) AS dlen
  FROM documents
), r AS (
  SELECT lang,
         inter * 1.0 / (glen + dlen - inter) AS iou,
         inter * 1.0 / glen AS io_gt,
         inter * 1.0 / dlen AS io_dt
  FROM m
)
SELECT lang, count(*) AS n_pairs,
       CAST(sum(CASE WHEN iou > 0.5 OR io_gt > 0.5 OR io_dt > 0.5
                THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       round(avg(iou), 6) AS avg_iou
FROM r GROUP BY lang
"""


def q_g9_simplify_gap_merge(spark, sf_dir):
    """G9 simplify as gap-merge, expressed NATIVELY with a lag window
    (the kernel version is exercised by the extraction tests): spans
    derived per orderkey from lineitem; count merged groups per doc at
    tolerance 60, histogram over group counts."""
    # l_linenumber repeats within orderkeys in the synthetic data, so
    # derive a deterministic unique position via row_number (ordering
    # by enough columns that duplicates produce identical span sets)
    rn_w = W.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_quantity", "l_suppkey", "l_extendedprice"
    )
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "rn", F.row_number().over(rn_w)
    ).select(
        "l_orderkey",
        (F.col("rn") * 100 + F.col("l_partkey") % 40).alias("s"),
        (F.col("rn") * 100 + F.col("l_partkey") % 40
         + F.col("l_quantity").cast("long")).alias("e"),
    )
    w = W.partitionBy("l_orderkey").orderBy("s")
    g = li.withColumn("prev_e", F.lag("e").over(w)).withColumn(
        "new_grp",
        F.when(F.col("prev_e").isNull() | (F.col("s") - F.col("prev_e") > 60), 1).otherwise(0),
    )
    per_doc = g.groupBy("l_orderkey").agg(F.sum("new_grp").alias("n_groups"))
    return per_doc.groupBy("n_groups").agg(F.count("*").alias("n_docs"))


O_G9_SIMPLIFY = """
WITH numbered AS (
  SELECT l_orderkey, l_partkey, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_quantity, l_suppkey,
                    l_extendedprice) AS rn
  FROM lineitem
), spans AS (
  SELECT l_orderkey,
         rn * 100 + l_partkey % 40 AS s,
         rn * 100 + l_partkey % 40 + CAST(l_quantity AS BIGINT) AS e
  FROM numbered
), g AS (
  SELECT l_orderkey, s,
         lag(e) OVER (PARTITION BY l_orderkey ORDER BY s) AS prev_e,
         e
  FROM spans
), marked AS (
  SELECT l_orderkey,
         CASE WHEN prev_e IS NULL OR s - prev_e > 60 THEN 1 ELSE 0 END AS new_grp
  FROM g
), per_doc AS (
  -- CAST: DuckDB sum() yields HUGEINT which degrades to float64 at the
  -- comparison boundary; Spark's sum(int) is BIGINT.
  SELECT l_orderkey, CAST(sum(new_grp) AS BIGINT) AS n_groups
  FROM marked GROUP BY l_orderkey
)
SELECT n_groups, count(*) AS n_docs FROM per_doc GROUP BY n_groups
"""


def q_j2_overlap_theta_join(spark, sf_dir):
    """J2 pairwise redundancy — same result as the interval-overlap
    theta self-join the oracle states (reference repair.py:219-237),
    computed WITHOUT the O(group²) pair enumeration (round-6, the
    guide-§8 'decide with small rows' move; the theta-join physical
    shape itself stays exercised by dedup_ngram_jaccard and the LSH
    bucket join). Both aggregates are integer-exact functionals of
    per-source histograms, so no float-order question arises:

    - ``total_overlap``: for unit cells x, a pair's overlap length
      ``least(ae,be) - greatest(as,bs)`` (when positive) is exactly
      the number of cells both spans cover, and non-overlapping pairs
      contribute 0 — so Σ_pairs overlap == Σ_x C(cov_x, 2) with
      cov_x = #starts<=x − #ends<=x (spans are half-open [s, e)).
    - ``n_pairs``: overlap is > 0 for every pair except the disjoint
      ones (a.e <= b.s or b.e <= a.s — mutually exclusive since spans
      are non-empty), so n_pairs = C(n,2) − Σ_v SH[v]·cumE(v) where
      SH is the start histogram and cumE(v) = #ends <= v.
    - sources where every pair is disjoint produced NO row from the
      join; the trailing filter reproduces that exactly.
    """
    d = _t(spark, sf_dir, "documents").select(
        "source",
        ((F.col("doc_id") * 37) % 200).alias("s"),
        ((F.col("doc_id") * 37) % 200 + 1 + F.col("n_chars") % 60).alias("e"),
    )
    sh = d.groupBy("source", F.col("s").alias("v")).agg(
        F.count(F.lit(1)).alias("ns")
    )
    eh = d.groupBy("source", F.col("e").alias("v")).agg(
        F.count(F.lit(1)).alias("ne")
    )
    stats = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.max("e").alias("max_e")
    )
    grid = stats.select(
        "source", "n", F.explode(F.expr("sequence(0, max_e)")).alias("v")
    )
    w = W.partitionBy("source").orderBy("v")
    g = (
        grid.join(sh, ["source", "v"], "left")
        .join(eh, ["source", "v"], "left")
        .select(
            "source",
            "n",
            "v",
            F.coalesce("ns", F.lit(0)).alias("ns"),
            F.coalesce("ne", F.lit(0)).alias("ne"),
        )
        .withColumn("cum_s", F.sum("ns").over(w))
        .withColumn("cum_e", F.sum("ne").over(w))
        .withColumn("cov", F.col("cum_s") - F.col("cum_e"))
    )
    return (
        g.groupBy("source")
        .agg(
            F.expr(
                "cast(first(n) * (first(n) - 1) div 2"
                " - sum(ns * cum_e) as long)"
            ).alias("n_pairs"),
            F.expr(
                "cast(sum(cov * (cov - 1) div 2) as long)"
            ).alias("total_overlap"),
        )
        .filter(F.col("n_pairs") > 0)
    )


O_J2_OVERLAP = """
WITH spans AS (
  SELECT doc_id, source,
         (doc_id * 37) % 200 AS s,
         (doc_id * 37) % 200 + 1 + n_chars % 60 AS e
  FROM documents
)
SELECT a.source AS source, count(*) AS n_pairs,
       CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT) AS total_overlap
FROM spans a JOIN spans b
  ON a.source = b.source AND a.doc_id < b.doc_id AND a.s < b.e AND b.s < a.e
GROUP BY a.source
"""


def q_plausibilize_kernel(spark, sf_dir):
    """The plausibilize kernel (reference repair.py:310-365 decision
    table) run through applyInPandas per document over deterministic
    synthetic spans; oracle states the closed-form expected actions.

    Spans per doc (n = n_chars): A=(0,n) depth1; B=(0,n) depth2 when
    doc_id even (equal → shallower A deleted); C=(n//4, n//2) depth3
    (contained → deleted); D=(n, n + n%3) depth1 (invalid when n%3==0,
    else kept)."""
    import pandas as pd  # local: worker-side import is what matters
    from .kernel import intervals as iv

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    spans = d.selectExpr(
        "doc_id",
        "n_chars",
        """
        filter(array(
          named_struct('s', 0L, 'e', cast(n_chars as long), 'depth', 1),
          if(doc_id % 2 = 0,
             named_struct('s', 0L, 'e', cast(n_chars as long), 'depth', 2),
             null),
          named_struct('s', cast(n_chars div 4 as long),
                       'e', cast(n_chars div 2 as long), 'depth', 3),
          named_struct('s', cast(n_chars as long),
                       'e', cast(n_chars + n_chars % 3 as long), 'depth', 1)
        ), x -> x is not null) as spans
        """,
    ).select(
        "doc_id", F.explode("spans").alias("sp"), F.col("n_chars")
    ).select(
        "doc_id",
        "n_chars",
        F.col("sp.s").alias("s"),
        F.col("sp.e").alias("e"),
        F.col("sp.depth").alias("depth"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        doc_id = int(pdf["doc_id"].iloc[0])
        doc_len = int(pdf["n_chars"].iloc[0])
        s, e, valid = iv.ensure_valid(
            pdf["s"].to_numpy(), pdf["e"].to_numpy(), doc_len + 10
        )
        acts = np.full(len(s), iv.DELETE, dtype=np.int64)
        vi = np.nonzero(valid)[0]
        if len(vi):
            a, _, _ = iv.plausibilize(
                s[vi], e[vi], pdf["depth"].to_numpy()[vi], DEFAULT_PARAMS.merge_min_overlap
            )
            acts[vi] = a
        return pd.DataFrame(
            {
                "doc_id": [doc_id],
                "n_spans": [len(s)],
                "n_valid": [int(valid.sum())],
                "n_kept": [int((acts[valid] == iv.KEEP).sum())],
                "n_deleted": [int((acts == iv.DELETE).sum())],
            }
        )

    return spans.groupBy("doc_id").applyInPandas(
        kernel,
        schema="doc_id long, n_spans long, n_valid long, n_kept long, n_deleted long",
    )


O_PLAUSIBILIZE = """
SELECT doc_id,
       CAST(3 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_spans,
       CAST(2 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
              + CASE WHEN n_chars % 3 = 0 THEN 0 ELSE 1 END AS BIGINT) AS n_valid,
       CAST(1 + CASE WHEN n_chars % 3 = 0 THEN 0 ELSE 1 END AS BIGINT) AS n_kept,
       CAST(1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
              + CASE WHEN n_chars % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_deleted
FROM documents
"""


# ---------------------------------------------------------------------------
# Window / ordering family (W-series)
# ---------------------------------------------------------------------------

def q_w1_reading_order(spark, sf_dir):
    """W1 reading-order index (reference repair.py:521-543)."""
    d = _t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id")
    return d.select("doc_id", "source", F.row_number().over(w).cast("long").alias("ro_index"))


O_W1 = """
SELECT doc_id, source,
       CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS ro_index
FROM documents
"""


def q_w2_rerank_after_delete(spark, sf_dir):
    """W2 re-index after deletion (reference repair.py:497-499):
    filter then dense re-rank."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "O")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey", "o_custkey", F.row_number().over(w).cast("long").alias("rn")
    )


O_W2 = """
SELECT o_orderkey, o_custkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
FROM orders WHERE o_orderstatus <> 'O'
"""


def q_w5_score_stable_sort(spark, sf_dir):
    """W5 score-descending stable sort (reference evaluate.py:382-383
    mergesort): explicit tiebreak on event_id."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return e.select(
        "event_id", "event_type", F.row_number().over(w).cast("long").alias("rnk")
    )


O_W5 = """
SELECT event_id, event_type,
       CAST(row_number() OVER (PARTITION BY event_type
            ORDER BY value DESC, event_id ASC) AS BIGINT) AS rnk
FROM events
"""


# ---------------------------------------------------------------------------
# Join family (J-series)
# ---------------------------------------------------------------------------

def q_j1_full_outer_align(spark, sf_dir):
    """J1 zip_input_files page alignment (reference evaluate.py:75-90):
    full outer join of two 'fileGrps', count both/left/right-only."""
    o = _t(spark, sf_dir, "orders")
    gt = o.filter(F.col("o_orderkey") % 2 == 0).select(F.col("o_orderkey").alias("k1"))
    dt = o.filter(F.col("o_orderkey") % 3 == 0).select(F.col("o_orderkey").alias("k2"))
    j = gt.join(dt, gt.k1 == dt.k2, "full_outer")
    return j.agg(
        F.sum((F.col("k1").isNotNull() & F.col("k2").isNotNull()).cast("long")).alias("n_both"),
        F.sum((F.col("k2").isNull() & F.col("k1").isNotNull()).cast("long")).alias("n_gt_only"),
        F.sum((F.col("k1").isNull() & F.col("k2").isNotNull()).cast("long")).alias("n_dt_only"),
    )


O_J1 = """
WITH gt AS (SELECT o_orderkey AS k1 FROM orders WHERE o_orderkey % 2 = 0),
     dt AS (SELECT o_orderkey AS k2 FROM orders WHERE o_orderkey % 3 = 0),
     j AS (SELECT k1, k2 FROM gt FULL OUTER JOIN dt ON k1 = k2)
SELECT CAST(sum(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       CAST(sum(CASE WHEN k2 IS NULL AND k1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gt_only,
       CAST(sum(CASE WHEN k1 IS NULL AND k2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dt_only
FROM j
"""


def q_j4_key_fallback_join(spark, sf_dir):
    """J4 key-fallback join (reference import_coco_segmentation.py:152-159):
    primary key, then fallback key for misses, via coalesce of two
    left joins. Small dim (nation) is broadcast."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("pk1"), F.col("n_name").alias("name1"))
    n2 = n.select(F.col("n_nationkey").alias("pk2"), F.col("n_name").alias("name2"))
    j = (
        s.join(F.broadcast(n1), s.s_suppkey == n1.pk1, "left")
        .join(F.broadcast(n2), s.s_nationkey == n2.pk2, "left")
        .select(F.coalesce("name1", "name2").alias("resolved"))
    )
    return j.groupBy("resolved").agg(F.count("*").alias("n"))


O_J4 = """
SELECT coalesce(n1.n_name, n2.n_name) AS resolved, count(*) AS n
FROM supplier s
LEFT JOIN nation n1 ON s.s_suppkey = n1.n_nationkey
LEFT JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
GROUP BY 1
"""


def q_j5_suffix_match_join(spark, sf_dir):
    """J5 suffix-match non-equi join (reference replace_text.py:48-58):
    file path endswith segment suffix; note '7.gt.txt' also suffixes
    '17.gt.txt' — n:m like the reference's first-match-wins list."""
    d = _t(spark, sf_dir, "documents")
    files = d.select(
        F.concat(F.col("source"), F.lit("/"), F.col("doc_id").cast("string"),
                 F.lit(".gt.txt")).alias("path")
    )
    segs = d.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("seg_doc"),
        F.concat(F.col("doc_id").cast("string"), F.lit(".gt.txt")).alias("suffix"),
    )
    j = files.crossJoin(F.broadcast(segs)).filter(F.expr("endswith(path, suffix)"))
    return j.groupBy("seg_doc").agg(F.count("*").alias("n_matches"))


O_J5 = """
WITH files AS (
  SELECT source || '/' || CAST(doc_id AS VARCHAR) || '.gt.txt' AS path FROM documents
), segs AS (
  SELECT doc_id AS seg_doc, CAST(doc_id AS VARCHAR) || '.gt.txt' AS suffix
  FROM documents WHERE doc_id % 5 = 0
)
SELECT seg_doc, count(*) AS n_matches
FROM files, segs WHERE ends_with(path, suffix)
GROUP BY seg_doc
"""


def q_j6_anti_semi_misses(spark, sf_dir):
    """J6 miss accounting (reference evaluate.py:414-429): unmatched
    sides via anti/semi joins."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    no_orders = c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count("*").alias("n_false_neg")
    )
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(
        F.count("*").alias("n_matched")
    )
    return no_orders.crossJoin(with_orders)


O_J6_MISSES = """
SELECT (SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_false_neg,
       (SELECT count(*) FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_matched
"""


def q_j7_reading_order_ref_join(spark, sf_dir):
    """J7 region ↔ reading-order ref join (reference repair.py:466-499):
    region rows joined to a derived order table on (doc, region_id)."""
    d = _t(spark, sf_dir, "documents")
    regions = d.select(
        "doc_id", F.concat(F.lit("r"), (F.col("n_chars") % 7).cast("string")).alias("region_id")
    )
    ro = d.select(
        "doc_id",
        F.concat(F.lit("r"), (F.col("doc_id") % 7).cast("string")).alias("region_id"),
        (F.col("doc_id") % 7).cast("long").alias("ro_index"),
    )
    j = regions.join(ro, ["doc_id", "region_id"], "inner")
    return j.groupBy("ro_index").agg(F.count("*").alias("n"))


O_J7 = """
WITH regions AS (
  SELECT doc_id, 'r' || CAST(n_chars % 7 AS VARCHAR) AS region_id FROM documents
), ro AS (
  SELECT doc_id, 'r' || CAST(doc_id % 7 AS VARCHAR) AS region_id,
         CAST(doc_id % 7 AS BIGINT) AS ro_index
  FROM documents
)
SELECT ro_index, count(*) AS n
FROM regions JOIN ro USING (doc_id, region_id)
GROUP BY ro_index
"""


# ---------------------------------------------------------------------------
# Aggregation family (A-series)
# ---------------------------------------------------------------------------

def q_a1_a2_match_stats(spark, sf_dir):
    """A1+A3 per-category match stats with over-segmentation degree
    (reference evaluate.py:400-458, 432-449): each GT interval is met
    by two DT intervals (halves) → both match by the triple rule;
    over-segmentation counts GT matched by >1 DT."""
    d = _t(spark, sf_dir, "documents")
    gt = d.select("doc_id", F.col("lang").alias("cat"), F.lit(0).alias("gs"),
                  F.col("n_chars").alias("ge"))
    dt = d.selectExpr(
        "doc_id", "lang as cat",
        "stack(2, 0L, cast(n_chars div 2 as long),"
        " cast(n_chars div 2 as long), cast(n_chars as long)) as (ds, de)"
    )
    j = gt.join(dt, ["doc_id", "cat"])
    j = j.withColumn("inter", F.least("ge", "de") - F.greatest("gs", "ds"))
    j = j.filter(
        (F.col("inter") / (F.col("ge") - F.col("gs") + F.col("de") - F.col("ds") - F.col("inter")) > 0.5)
        | (F.col("inter") / (F.col("ge") - F.col("gs")) > 0.5)
        | (F.col("inter") / (F.col("de") - F.col("ds")) > 0.5)
    )
    per_gt = j.groupBy("cat", "doc_id").agg(F.count("*").alias("n_dt_for_gt"))
    return per_gt.groupBy("cat").agg(
        F.count("*").alias("n_gt_matched"),
        F.sum((F.col("n_dt_for_gt") > 1).cast("long")).alias("n_overseg"),
        F.sum("n_dt_for_gt").alias("n_pairs"),
    )


O_A1_A2 = """
WITH gt AS (
  SELECT doc_id, lang AS cat, 0 AS gs, n_chars AS ge FROM documents
), dt AS (
  SELECT doc_id, lang AS cat, 0 AS ds, n_chars // 2 AS de FROM documents
  UNION ALL
  SELECT doc_id, lang, n_chars // 2, n_chars FROM documents
), j AS (
  SELECT gt.cat, gt.doc_id,
         least(ge, de) - greatest(gs, ds) AS inter,
         ge - gs AS glen, de - ds AS dlen
  FROM gt JOIN dt ON gt.doc_id = dt.doc_id AND gt.cat = dt.cat
), m AS (
  SELECT cat, doc_id FROM j
  WHERE inter * 1.0 / (glen + dlen - inter) > 0.5
     OR inter * 1.0 / glen > 0.5 OR inter * 1.0 / dlen > 0.5
), per_gt AS (
  SELECT cat, doc_id, count(*) AS n_dt_for_gt FROM m GROUP BY cat, doc_id
)
SELECT cat, count(*) AS n_gt_matched,
       CAST(sum(CASE WHEN n_dt_for_gt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_overseg,
       CAST(sum(n_dt_for_gt) AS BIGINT) AS n_pairs
FROM per_gt GROUP BY cat
"""


def q_a4_median_scale(spark, sf_dir):
    """A4 scale estimate median (reference repair.py:551-559): exact
    median per group."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        F.count("*").alias("n"),
    )


O_A4 = """
SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_a6_dense_ids(spark, sf_dir):
    """A6 COCO dense id assembly (reference extract_pages.py:177-198):
    deterministic monotonic ids — scale-safe ranked_ids (bucketed
    windows + cumulative bucket offsets), NOT a single-partition
    global window; result equals row_number() over (ORDER BY doc_id)."""
    from .functions.ids import ranked_ids

    d = _t(spark, sf_dir, "documents")
    # floor(doc_id/64) is order-aligned for the numeric key; width
    # scales with corpus so #buckets stays broadcastable (ids.py)
    return ranked_ids(
        d.select("doc_id"), ["doc_id"], "ann_id", F.floor(F.col("doc_id") / 64)
    ).select("ann_id", "doc_id")


O_A6 = """
SELECT CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS ann_id, doc_id
FROM documents
"""


def q_a7_category_vocab(spark, sf_dir):
    """A7 category vocabulary with stable dense ids (reference
    evaluate.py:560-567)."""
    d = _t(spark, sf_dir, "documents").select("lang").distinct()
    w = W.orderBy("lang")
    return d.select(F.dense_rank().over(w).cast("long").alias("cat_id"), "lang")


O_A7 = """
SELECT CAST(dense_rank() OVER (ORDER BY lang) AS BIGINT) AS cat_id, lang
FROM (SELECT DISTINCT lang FROM documents)
"""


def q_a8_level_accounting(spark, sf_dir):
    """A8 segment-update level accounting (reference replace_text.py:64-80)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


O_A8 = """
SELECT event_type, count(*) AS n, round(sum(value), 4) AS total_value
FROM events GROUP BY event_type
"""


def q_s4_collect_group(spark, sf_dir):
    """S4 COCO-source group-by-image collect (reference
    import_coco_segmentation.py:104-131): deterministic via sort."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.col("doc_id").cast("string"))), ","
        ).alias("doc_ids")
    )


O_S4 = """
SELECT source,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids
FROM documents GROUP BY source
"""


def q_a_pricing_summary(spark, sf_dir):
    """Two-phase partial/final aggregation showcase (§4.2): TPC-H-Q1
    shape; money through DECIMAL so sums are exact across plans."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "2000-12-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # sums stay DECIMAL internally so they are exact across any
            # partial/final plan; only the FINAL outputs are cast to
            # DOUBLE (both sides — DuckDB DECIMAL(28,x) degrades to
            # float64 at the comparison boundary anyway).
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("decimal(28,2)")
            .cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(28,2)")
            .cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)")
                 * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
            ).cast("decimal(28,4)").cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


O_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(28,4)) AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Evaluate-analog module (operators/evaluate.py) driven end-to-end
# ---------------------------------------------------------------------------

def _gt_dt_from_documents(spark, sf_dir):
    """Deterministic GT/DT span tables (FIXTURES.md F3) derived from
    ``documents``: GT = two halves; DT = thirds-ish perturbation so one
    GT is over-segmented and borderline matches are data-dependent."""
    d = _t(spark, sf_dir, "documents")
    gt = d.selectExpr(
        "cast(doc_id as string) as url",
        "lang as cat",
        "stack(2, 'g1', 0L, cast(n_chars div 2 as long),"
        " 'g2', cast(n_chars div 2 as long), cast(n_chars as long))"
        " as (region_id, start, end)",
    ).selectExpr("url", "region_id", "cat", "start", "end", "cast(1.0 as double) as score")
    dt = d.selectExpr(
        "cast(doc_id as string) as url",
        "lang as cat",
        "stack(3,"
        " 'd1', 0L, cast(n_chars div 3 as long),"
        " 'd2', cast(n_chars div 3 as long), cast(n_chars div 2 + n_chars div 10 as long),"
        " 'd3', cast(n_chars div 2 + n_chars div 10 as long), cast(n_chars as long))"
        " as (region_id, start, end)",
    ).selectExpr("url", "region_id", "cat", "start", "end", "cast(1.0 as double) as score")
    return gt, dt


_O_GT_DT = """
  gt AS (
    SELECT CAST(doc_id AS VARCHAR) AS url, lang AS cat, 'g1' AS region_id,
           0 AS s, n_chars // 2 AS e FROM documents
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR), lang, 'g2', n_chars // 2, n_chars FROM documents
  ), dt AS (
    SELECT CAST(doc_id AS VARCHAR) AS url, lang AS cat, 'd1' AS region_id,
           0 AS s, n_chars // 3 AS e FROM documents
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR), lang, 'd2', n_chars // 3,
           n_chars // 2 + n_chars // 10 FROM documents
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR), lang, 'd3', n_chars // 2 + n_chars // 10,
           n_chars FROM documents
  ), matches AS (
    SELECT gt.url, gt.cat, gt.region_id AS gt_id, dt.region_id AS dt_id,
           greatest(0, least(gt.e, dt.e) - greatest(gt.s, dt.s)) AS inter,
           gt.e - gt.s AS glen, dt.e - dt.s AS dlen,
           greatest(0, least(gt.e, dt.e) - greatest(gt.s, dt.s)) * 1.0 /
             ((gt.e - gt.s) + (dt.e - dt.s)
              - greatest(0, least(gt.e, dt.e) - greatest(gt.s, dt.s))) AS iou
    FROM gt JOIN dt ON gt.url = dt.url AND gt.cat = dt.cat
    WHERE greatest(0, least(gt.e, dt.e) - greatest(gt.s, dt.s)) * 1.0 /
            ((gt.e - gt.s) + (dt.e - dt.s)
             - greatest(0, least(gt.e, dt.e) - greatest(gt.s, dt.s))) > 0.5
       OR greatest(0, least(gt.e, dt.e) - greatest(gt.s, dt.s)) * 1.0 / (gt.e - gt.s) > 0.5
       OR greatest(0, least(gt.e, dt.e) - greatest(gt.s, dt.s)) * 1.0 / (dt.e - dt.s) > 0.5
  )
"""


def q_eval_per_image_stats(spark, sf_dir):
    """A1 per-image stats through operators/evaluate.py (match → anti
    → two-phase agg), oracle in closed-form SQL."""
    from .operators import evaluate as ev

    gt, dt = _gt_dt_from_documents(spark, sf_dir)
    m = ev.match_spans(gt, dt)
    return ev.per_image_stats(gt, dt, m)


O_EVAL_PER_IMAGE = f"""
WITH {_O_GT_DT},
n_gt AS (
  SELECT url, cat, count(*) AS n_gt, sum(e - s) AS gt_chars FROM gt GROUP BY 1, 2
), n_dt AS (
  SELECT url, cat, count(*) AS n_dt, sum(e - s) AS dt_chars FROM dt GROUP BY 1, 2
), m AS (
  SELECT url, cat, count(DISTINCT gt_id) AS tp_gt, count(DISTINCT dt_id) AS tp_dt,
         sum(inter) AS inter_chars, round(avg(iou), 6) AS avg_iou
  FROM matches GROUP BY 1, 2
)
SELECT n_gt.url AS url, n_gt.cat AS cat,
       CAST(n_gt AS BIGINT) AS n_gt, CAST(n_dt AS BIGINT) AS n_dt,
       CAST(coalesce(tp_gt, 0) AS BIGINT) AS tp_gt,
       CAST(coalesce(tp_dt, 0) AS BIGINT) AS tp_dt,
       CAST(n_dt - coalesce(tp_dt, 0) AS BIGINT) AS fp,
       CAST(n_gt - coalesce(tp_gt, 0) AS BIGINT) AS fn,
       round(coalesce(tp_dt, 0) * 1.0 / n_dt, 6) AS precision,
       round(coalesce(tp_gt, 0) * 1.0 / n_gt, 6) AS recall,
       round(coalesce(inter_chars, 0) * 1.0 / dt_chars, 6) AS pixel_precision,
       round(coalesce(inter_chars, 0) * 1.0 / gt_chars, 6) AS pixel_recall,
       avg_iou
FROM n_gt
JOIN n_dt ON n_gt.url = n_dt.url AND n_gt.cat = n_dt.cat
LEFT JOIN m ON n_gt.url = m.url AND n_gt.cat = m.cat
"""


def q_eval_per_cat_micro(spark, sf_dir):
    """A2/A3 per-category micro-averages + over/under-segmentation
    through operators/evaluate.py."""
    from .operators import evaluate as ev

    gt, dt = _gt_dt_from_documents(spark, sf_dir)
    m = ev.match_spans(gt, dt)
    return ev.per_cat_stats(gt, dt, m)


O_EVAL_PER_CAT = f"""
WITH {_O_GT_DT},
per_gt AS (
  SELECT cat, url, gt_id, count(*) AS n_dt_for_gt FROM matches GROUP BY 1, 2, 3
), per_dt AS (
  SELECT cat, url, dt_id, count(*) AS n_gt_for_dt FROM matches GROUP BY 1, 2, 3
), over_t AS (
  SELECT cat, count(*) AS gt_matched,
         sum(CASE WHEN n_dt_for_gt > 1 THEN 1 ELSE 0 END) AS gt_multi
  FROM per_gt GROUP BY cat
), under_t AS (
  SELECT cat, count(*) AS dt_matched,
         sum(CASE WHEN n_gt_for_dt > 1 THEN 1 ELSE 0 END) AS dt_multi
  FROM per_dt GROUP BY cat
), totals AS (
  SELECT g.cat, g.n_gt, d.n_dt
  FROM (SELECT cat, count(*) AS n_gt FROM gt GROUP BY cat) g
  JOIN (SELECT cat, count(*) AS n_dt FROM dt GROUP BY cat) d ON g.cat = d.cat
), iou_t AS (
  SELECT cat, round(avg(iou), 6) AS avg_iou FROM matches GROUP BY cat
)
SELECT totals.cat AS cat, CAST(n_gt AS BIGINT) AS n_gt, CAST(n_dt AS BIGINT) AS n_dt,
       CAST(coalesce(gt_matched, 0) AS BIGINT) AS gt_matched,
       CAST(coalesce(dt_matched, 0) AS BIGINT) AS dt_matched,
       round(coalesce(gt_multi, 0) * 1.0 / coalesce(gt_matched, 1), 6) AS over_seg,
       round(coalesce(dt_multi, 0) * 1.0 / coalesce(dt_matched, 1), 6) AS under_seg,
       round(coalesce(gt_matched, 0) * 1.0 / n_gt, 6) AS recall,
       round(coalesce(dt_matched, 0) * 1.0 / n_dt, 6) AS precision,
       avg_iou
FROM totals
LEFT JOIN over_t ON totals.cat = over_t.cat
LEFT JOIN under_t ON totals.cat = under_t.cat
LEFT JOIN iou_t ON totals.cat = iou_t.cat
"""


# ---------------------------------------------------------------------------
# COCO export (S9/A6) and replace-text (S6/J5/A8) through their modules
# ---------------------------------------------------------------------------

def q_coco_export_annotations(spark, sf_dir):
    """S9 global COCO sink via sources/coco.export_coco over extracted
    pages: deterministic dense ids from windows (the parallel-safe
    re-expression of the reference's mutable counters,
    extract_pages.py:177-198). Oracle states the closed-form table.

    NOTE url is a STRING key — ids follow lexicographic url order."""
    html_expr = (
        "concat('<html><body>"
        "<nav><ul><li><a href=\"/m\">menu one</a> <a href=\"/n\">menu two</a></li></ul></nav>"
        "<h1>', source, '</h1>"
        "<p><a href=\"/q\">', source, ' ', source, '</a></p>"
        "<p>', text, '</p></body></html>')"
    )
    from .sources.coco import export_coco

    pages = _pages_from_documents(spark, sf_dir, html_expr)
    out = extract_pages(pages)
    _, annotations, _ = export_coco(out)
    return annotations.select(
        "ann_id", "image_id", "category_id", "start", "end", "area",
    )


O_COCO_EXPORT = f"""
WITH c AS (
  SELECT CAST(doc_id AS VARCHAR) AS url, source, {_SQL_COLLAPSE} AS t FROM documents
), imgs AS (
  SELECT url, row_number() OVER (ORDER BY url) AS image_id FROM c
), regions AS (
  -- heading.h1 (cat 1) then paragraph.p (cat 2) per page, in order
  SELECT url, 1 AS category_id, 0 AS s, length(source) AS e, 0 AS ord FROM c
  UNION ALL
  SELECT url, 2, length(source) + 1, length(source) + 1 + length(t), 1 FROM c
)
SELECT CAST(row_number() OVER (ORDER BY r.url, r.ord) AS BIGINT) AS ann_id,
       CAST(i.image_id AS BIGINT) AS image_id,
       CAST(r.category_id AS BIGINT) AS category_id,
       CAST(r.s AS BIGINT) AS start, CAST(r.e AS BIGINT) AS "end",
       CAST(r.e - r.s AS BIGINT) AS area
FROM regions r JOIN imgs i ON r.url = i.url
"""


def q_replace_text_accounting(spark, sf_dir):
    """S6+J5+A8 via sources/text_files: corrections table with
    suffix-encoded (url, region_id), broadcast endswith join,
    first-match-wins, per-level accounting
    (reference replace_text.py:17-80)."""
    from .sources.text_files import replace_region_text, update_level_accounting

    html_expr = (
        "concat('<html><body>"
        "<nav><ul><li><a href=\"/m\">menu one</a> <a href=\"/n\">menu two</a></li></ul></nav>"
        "<h1>', source, '</h1>"
        "<p><a href=\"/q\">', source, ' ', source, '</a></p>"
        "<p>', text, '</p></body></html>')"
    )
    pages = _pages_from_documents(spark, sf_dir, html_expr)
    out = extract_pages(pages)
    docs = _t(spark, sf_dir, "documents")
    # corrections for the heading (r0008) of every 3rd doc and the
    # paragraph (r0011) of every 7th, plus orphans that must no-op
    files = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit("/gt/"), F.col("doc_id").cast("string"),
                 F.lit("_r0008.gt.txt")).alias("path"),
        F.lit("fixed heading").alias("content"),
    ).unionAll(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            F.concat(F.lit("/gt/"), F.col("doc_id").cast("string"),
                     F.lit("_r0011.gt.txt")).alias("path"),
            F.lit("fixed paragraph").alias("content"),
        )
    ).unionAll(
        docs.limit(5).select(
            F.concat(F.lit("/gt/nope_"), F.col("doc_id").cast("string"),
                     F.lit("_r9999.gt.txt")).alias("path"),
            F.lit("orphan").alias("content"),
        )
    )
    return update_level_accounting(replace_region_text(out, files))


O_REPLACE_TEXT = """
SELECT 'heading' AS level, count(*) AS n_updated FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT 'paragraph', count(*) FROM documents WHERE doc_id % 7 = 0
"""


# ---------------------------------------------------------------------------
# TextEquiv selection (P4) and misc scalar functions (G18/G19/G20)
# ---------------------------------------------------------------------------

def q_p4_textequiv_select(spark, sf_dir):
    """P4 TextEquiv index selection + the replace-text insert-at-0
    (functions/textequiv.py; reference extract_lines.py:180-193,
    replace_text.py:62): alternatives built from the first 3 tokens,
    select first/last/index-1, then prepend a correction and re-select
    first."""
    from .functions.textequiv import textequiv_insert, textequiv_text

    d = _t(spark, sf_dir, "documents")
    te = d.selectExpr(
        "doc_id",
        "transform(slice(filter(split(text, ' '), x -> x != ''), 1, 3),"
        " (t, i) -> named_struct('index', i, 'unicode', t,"
        " 'conf', 1.0 - i * 0.1)) as te",
    ).filter(F.expr("size(te) >= 3"))
    out = te.select(
        "doc_id",
        textequiv_text("te", "first").alias("first_text"),
        textequiv_text("te", "last").alias("last_text"),
        textequiv_text("te", "1").alias("idx1_text"),
        F.element_at(textequiv_insert("te", F.lit("corrected")), 1)
        .getField("unicode")
        .alias("after_insert"),
    )
    return out


O_P4_TEXTEQUIV = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id, toks[1] AS first_text, toks[3] AS last_text,
       toks[2] AS idx1_text, 'corrected' AS after_insert
FROM t WHERE len(toks) >= 3
"""


def q_misc_scalar_functions(spark, sf_dir):
    """G18 color-hex parse + G19 DPI normalize + G20 numeric page-id
    (functions/misc.py; reference extract_pages.py:183-186, 247-252,
    230-233), driven over derived columns."""
    from .functions.misc import color_hex_to_rgb, dpi_normalize, numeric_page_id

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(F.md5("text"), 1, 6).alias("hexcol"),
        F.col("n_chars").alias("resolution"),
        F.when(F.col("doc_id") % 2 == 0, "cm").otherwise("inch").alias("unit"),
        F.concat(F.lit("page_"), F.col("doc_id").cast("string"), F.lit("_x")).alias("page_id"),
    )
    r, g, b = color_hex_to_rgb("hexcol")
    return d.select(
        "doc_id",
        r, g, b,
        dpi_normalize("resolution", "unit").alias("dpi"),
        numeric_page_id("page_id").alias("page_num"),
    )


O_MISC_SCALARS = """
WITH d AS (
  SELECT doc_id, substr(md5(text), 1, 6) AS hexcol, n_chars AS resolution,
         CASE WHEN doc_id % 2 = 0 THEN 'cm' ELSE 'inch' END AS unit
  FROM documents
), hx AS (
  SELECT doc_id, resolution, unit,
         strpos('0123456789abcdef', substr(hexcol, 1, 1)) - 1 AS h1,
         strpos('0123456789abcdef', substr(hexcol, 2, 1)) - 1 AS h2,
         strpos('0123456789abcdef', substr(hexcol, 3, 1)) - 1 AS h3,
         strpos('0123456789abcdef', substr(hexcol, 4, 1)) - 1 AS h4,
         strpos('0123456789abcdef', substr(hexcol, 5, 1)) - 1 AS h5,
         strpos('0123456789abcdef', substr(hexcol, 6, 1)) - 1 AS h6
  FROM d
)
SELECT doc_id,
       CAST(h1 * 16 + h2 AS INT) AS r,
       CAST(h3 * 16 + h4 AS INT) AS g,
       CAST(h5 * 16 + h6 AS INT) AS b,
       -- CAST: without it DuckDB emits DECIMAL here (the driver's
       -- pandas transfer degrades it to float64 so it happened to
       -- pass, but the typed contract is DOUBLE on both sides)
       CAST(CASE WHEN unit = 'cm' THEN round(resolution * 2.54)
            ELSE resolution END AS DOUBLE) AS dpi,
       doc_id AS page_num
FROM hx
"""
