"""Driver-contract queries, round 2: line/word/glyph hierarchy levels,
inheritance fallback chains, the COCO AP/AR summary, frame rebase, and
driver entries for the formerly pytest-only §2 operators (S10, A9, G2,
G3, G10, G13).

Same conventions as :mod:`contract` (identical aliases both sides,
closed-form DuckDB oracles over SQL-synthesized inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .contract import (
    _O_GT_DT,
    _SQL_COLLAPSE,
    _gt_dt_from_documents,
    _pages_from_documents,
    _t,
)
from .functions import spans as S
from .functions.sublevels import glyphs_col, inherit_chain, lines_table, with_sublevels, words_table
from .operators import evaluate as ev
from .operators.repair import rebase_spans
from .pipeline import extract_pages
from .sources.coco import unaccounted_images

_SINGLE_PARA = "concat('<html><body><p>', text, '</p></body></html>')"
_BOILER = (
    "concat('<html><body>"
    "<nav><ul><li><a href=\"/m\">menu one</a> <a href=\"/n\">menu two</a></li></ul></nav>"
    "<h1>', source, '</h1>"
    "<p><a href=\"/q\">', source, ' ', source, '</a></p>"
    "<p>', text, '</p></body></html>')"
)

_LINE_WIDTH = 5

# Oracle CTE: word offsets of the single-<p> page (region r0003 spans
# the whole collapsed text, so region-relative == absolute offsets).
_O_WORDS = f"""
  c AS (SELECT doc_id, {_SQL_COLLAPSE} AS t FROM documents),
  w AS (
    SELECT doc_id, t,
           unnest(string_split(t, ' ')) AS word,
           unnest(generate_series(1, len(string_split(t, ' ')))) AS i
    FROM c
  ),
  o AS (
    SELECT doc_id, t, word, i,
           CAST(coalesce(sum(length(word) + 1) OVER (
             PARTITION BY doc_id ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
    FROM w
  )
"""


# ---------------------------------------------------------------------------
# Hierarchy levels (reference extract_lines.py / extract_words.py /
# extract_glyphs.py)
# ---------------------------------------------------------------------------

def q_extract_word_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word level (extract_words.py:90-201 analog): per-word spans with
    composite ids and line membership, derived shuffle-free from the
    extraction output."""
    pages = _pages_from_documents(spark, sf_dir, _SINGLE_PARA)
    out = extract_pages(pages)
    wt = words_table(out, line_width=_LINE_WIDTH)
    return wt.select(
        F.col("url").cast("long").alias("doc_id"),
        "region_id", "line_id", "word_id",
        F.col("start").cast("long").alias("w_start"),
        F.col("end").cast("long").alias("w_end"),
        F.col("w_order").cast("int").alias("w_order"),
        "word_text",
    )


O_WORD_SPANS = f"""
WITH {_O_WORDS}
SELECT doc_id, 'r0003' AS region_id,
       printf('r0003_l%03d', (i - 1) // {_LINE_WIDTH}) AS line_id,
       printf('r0003_w%04d', i - 1) AS word_id,
       s AS w_start, s + length(word) AS w_end,
       CAST(i - 1 AS INT) AS w_order, word AS word_text
FROM o
"""


def q_extract_line_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line level (extract_lines.py:87-283 analog): fixed-width word
    wrap; line span = token hull of its words."""
    pages = _pages_from_documents(spark, sf_dir, _SINGLE_PARA)
    out = extract_pages(pages)
    lt = lines_table(out, line_width=_LINE_WIDTH)
    return lt.select(
        F.col("url").cast("long").alias("doc_id"),
        "region_id", "line_id",
        F.col("start").cast("long").alias("l_start"),
        F.col("end").cast("long").alias("l_end"),
        F.col("l_order").cast("int").alias("l_order"),
        F.col("n_words").cast("int").alias("n_words"),
        "line_text",
    )


O_LINE_SPANS = f"""
WITH {_O_WORDS},
l AS (
  SELECT doc_id, any_value(t) AS t, (i - 1) // {_LINE_WIDTH} AS li,
         min(s) AS l_start, max(s + length(word)) AS l_end,
         CAST(count(*) AS INT) AS n_words
  FROM o GROUP BY doc_id, (i - 1) // {_LINE_WIDTH}
)
SELECT doc_id, 'r0003' AS region_id, printf('r0003_l%03d', li) AS line_id,
       l_start, l_end, CAST(li AS INT) AS l_order, n_words,
       substring(t, CAST(l_start + 1 AS INT), CAST(l_end - l_start AS INT)) AS line_text
FROM l
"""


def q_extract_glyph_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glyph level (extract_glyphs.py:95-205 analog): one char per
    glyph via a sequence() expression over word spans; per-doc glyph
    count and start-offset checksum."""
    pages = _pages_from_documents(spark, sf_dir, _SINGLE_PARA)
    out = with_sublevels(extract_pages(pages), line_width=_LINE_WIDTH)
    g = out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.explode("word_spans").alias("w"),
    ).select("doc_id", F.explode(glyphs_col(F.col("w"))).alias("g"))
    return g.groupBy("doc_id").agg(
        F.count("*").alias("n_glyphs"),
        F.sum(F.col("g.start")).cast("long").alias("glyph_start_sum"),
    )


# per word [s, s+len): count = len, sum of starts =
# (s + s+len-1) * len / 2 (arithmetic series; product always even)
O_GLYPH_SPANS = f"""
WITH {_O_WORDS}
SELECT doc_id,
       CAST(sum(length(word)) AS BIGINT) AS n_glyphs,
       CAST(sum((2 * s + length(word) - 1) * length(word) // 2) AS BIGINT)
         AS glyph_start_sum
FROM o GROUP BY doc_id
"""


def q_inherit_fallback_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Child-overrides-parent attribute resolution
    (extract_words.py:150-168: production/readingDirection/
    primaryScript/language chains; extract_words.py:127: the TextStyle
    struct coalesces WHOLE — nearest non-null level wins, never
    per-field). Level attributes synthesized deterministically from
    ``documents``; NULL = "inherit"."""
    d = _t(spark, sf_dir, "documents")
    style_fields = lambda font, bold, italic: F.struct(  # noqa: E731
        font.alias("fontFamily"), bold.alias("bold"), italic.alias("italic")
    )
    lvl = d.select(
        "doc_id",
        "lang",
        F.when(d.doc_id % 5 == 0, F.lit("w-rtl")).alias("w_dir"),
        F.when(d.doc_id % 3 == 0, F.lit("l-ltr")).alias("l_dir"),
        F.when(d.doc_id % 2 == 0, F.lit("r-ltr")).alias("r_dir"),
        F.lit("p-ltr").alias("p_dir"),
        F.when(d.doc_id % 7 == 0, F.lit("w-arab")).alias("w_script"),
        F.concat(F.lit("r-"), d.lang).alias("r_script"),
        F.when(
            d.doc_id % 7 == 0,
            style_fields(F.lit("serif-w"), F.lit(True), d.doc_id % 3 == 0),
        ).alias("w_style"),
        F.when(
            d.doc_id % 4 == 0,
            style_fields(F.lit("sans-l"), F.lit(False), F.lit(False)),
        ).alias("l_style"),
        style_fields(F.lit("mono-r"), d.doc_id % 2 == 0, F.lit(False)).alias(
            "r_style"
        ),
    )
    style = inherit_chain(F.col("w_style"), F.col("l_style"), F.col("r_style"))
    return lvl.select(
        "doc_id",
        inherit_chain(
            F.col("w_dir"), F.col("l_dir"), F.col("r_dir"), F.col("p_dir")
        ).alias("dir_resolved"),
        inherit_chain(F.col("w_script"), F.col("r_script")).alias("script_resolved"),
        style["fontFamily"].alias("style_font"),
        style["bold"].alias("style_bold"),
        style["italic"].alias("style_italic"),
    )


O_INHERIT_CHAIN = """
SELECT doc_id,
  CASE WHEN doc_id % 5 = 0 THEN 'w-rtl'
       WHEN doc_id % 3 = 0 THEN 'l-ltr'
       WHEN doc_id % 2 = 0 THEN 'r-ltr' ELSE 'p-ltr' END AS dir_resolved,
  CASE WHEN doc_id % 7 = 0 THEN 'w-arab' ELSE 'r-' || lang END AS script_resolved,
  CASE WHEN doc_id % 7 = 0 THEN 'serif-w'
       WHEN doc_id % 4 = 0 THEN 'sans-l' ELSE 'mono-r' END AS style_font,
  CASE WHEN doc_id % 7 = 0 THEN TRUE
       WHEN doc_id % 4 = 0 THEN FALSE ELSE doc_id % 2 = 0 END AS style_bold,
  CASE WHEN doc_id % 7 = 0 THEN doc_id % 3 = 0
       WHEN doc_id % 4 = 0 THEN FALSE ELSE FALSE END AS style_italic
FROM documents
"""


# ---------------------------------------------------------------------------
# Formerly pytest-only §2 operators
# ---------------------------------------------------------------------------

def q_s10_byte_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 text-sink byte-identity (reference extract_lines.py:280-283
    ``(text + '\\n').encode('utf-8')``): md5 over the exact sink bytes
    incl. the trailing newline, checked digest-for-digest in SQL."""
    pages = _pages_from_documents(spark, sf_dir, _SINGLE_PARA)
    out = extract_pages(pages)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.md5(F.concat(F.col("extracted_text"), F.lit("\n")).cast("binary")).alias(
            "digest"
        ),
    )


O_S10_DIGEST = f"""
SELECT doc_id, md5({_SQL_COLLAPSE} || chr(10)) AS digest FROM documents
"""


def q_a9_unaccounted_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (reference import_coco_segmentation.py:136-140, 215-217):
    images with no annotations surface via anti-join instead of being
    silently dropped."""
    d = _t(spark, sf_dir, "documents")
    images = d.select(
        d.doc_id.cast("long").alias("image_id"), F.col("source").alias("file_name")
    )
    ann = d.filter(d.doc_id % 7 != 3).select(
        d.doc_id.cast("long").alias("image_id"),
        F.lit(1).alias("ann_id"),
    )
    return unaccounted_images(images, ann)


O_A9_AUDIT = """
SELECT doc_id AS image_id, source AS file_name
FROM documents WHERE doc_id % 7 = 3
"""


def q_g2_make_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 make_valid analog (kernel ensure_valid, reference
    project.py:217-240 / repair.py:736-757): normalize reversed spans,
    clamp to [0, doc_len), flag empties — native column math over
    deliberately-invalid synthesized spans."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_partkey") % 300 - 20).cast("long").alias("s0"),
        (F.col("l_partkey") % 300 - 20 + F.col("l_quantity").cast("long") - 25)
        .cast("long")
        .alias("e0"),
    )
    lo = F.greatest(S.span_clamp_start("s0", "e0"), F.lit(0))
    hi = F.least(S.span_clamp_end("s0", "e0"), F.lit(200))
    v = li.select(
        "l_returnflag", lo.alias("lo"), F.greatest(hi, lo).alias("hi")
    ).withColumn("valid", (F.col("hi") > F.col("lo")).cast("long"))
    return v.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("valid").alias("n_valid"),
        F.sum(F.col("hi") - F.col("lo")).cast("long").alias("total_len"),
    )


O_G2_VALID = """
WITH raw AS (
  SELECT l_returnflag,
         l_partkey % 300 - 20 AS s0,
         l_partkey % 300 - 20 + CAST(l_quantity AS BIGINT) - 25 AS e0
  FROM lineitem
), norm AS (
  SELECT l_returnflag,
         greatest(least(s0, e0), 0) AS lo0,
         least(greatest(s0, e0), 200) AS hi0
  FROM raw
), v AS (
  SELECT l_returnflag, lo0 AS lo, greatest(hi0, lo0) AS hi FROM norm
)
SELECT l_returnflag, count(*) AS n,
       CAST(sum(CASE WHEN hi > lo THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(sum(hi - lo) AS BIGINT) AS total_len
FROM v GROUP BY l_returnflag
"""


def q_g3_join_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 join_polygons analog (reference project.py:100-140; 1-D hull
    — the MST/alpha-shape machinery degenerates to min/max): hull of
    each orderkey's first two line spans."""
    rn_w = W.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_quantity", "l_suppkey", "l_extendedprice"
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .withColumn("rn", F.row_number().over(rn_w))
        .filter(F.col("rn") <= 2)
        .select(
            "l_orderkey",
            "rn",
            (F.col("l_partkey") % 100).cast("long").alias("s"),
            (F.col("l_partkey") % 100 + 1 + F.col("l_quantity").cast("long") % 30)
            .cast("long")
            .alias("e"),
        )
    )
    a = li.filter(F.col("rn") == 1).select(
        "l_orderkey", F.col("s").alias("s1"), F.col("e").alias("e1")
    )
    b = li.filter(F.col("rn") == 2).select(
        "l_orderkey", F.col("s").alias("s2"), F.col("e").alias("e2")
    )
    j = a.join(b, "l_orderkey")
    return j.select(
        "l_orderkey",
        S.span_hull_start("s1", "s2").alias("hull_s"),
        S.span_hull_end("e1", "e2").alias("hull_e"),
    )


O_G3_HULL = """
WITH numbered AS (
  SELECT l_orderkey,
         l_partkey % 100 AS s,
         l_partkey % 100 + 1 + CAST(l_quantity AS BIGINT) % 30 AS e,
         row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_quantity, l_suppkey,
                    l_extendedprice) AS rn
  FROM lineitem
), a AS (SELECT l_orderkey, s AS s1, e AS e1 FROM numbered WHERE rn = 1),
   b AS (SELECT l_orderkey, s AS s2, e AS e2 FROM numbered WHERE rn = 2)
SELECT a.l_orderkey AS l_orderkey,
       CAST(least(s1, s2) AS BIGINT) AS hull_s,
       CAST(greatest(e1, e2) AS BIGINT) AS hull_e
FROM a JOIN b ON a.l_orderkey = b.l_orderkey
"""


def q_g10_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 spread_segments (reference repair.py:592-601), native
    window form of the frozen 1-D rule (kernel/intervals.py:195): each
    span grows by up to ``distance`` chars per side, bounded by the
    gap midpoints toward its neighbors — output never overlaps."""
    d = _t(spark, sf_dir, "documents")
    sp = d.selectExpr(
        "doc_id",
        "cast(120 + n_chars % 13 as long) as doc_len",
        "stack(3,"
        " 0, 10L, cast(20 + n_chars % 5 as long),"
        " 1, cast(40 + n_chars % 7 as long), 60L,"
        " 2, 80L, cast(90 + n_chars % 11 as long)) as (idx, s, e)",
    )
    w = W.partitionBy("doc_id").orderBy("s")
    g = (
        sp.withColumn("prev_e", F.lag("e").over(w))
        .withColumn("next_s", F.lead("s").over(w))
        .withColumn("left_bound", F.expr("coalesce((prev_e + s + 1) div 2, 0L)"))
        .withColumn(
            "right_bound", F.expr("coalesce((e + next_s + 1) div 2, doc_len)")
        )
    )
    return g.select(
        "doc_id",
        "idx",
        F.greatest(F.col("s") - 15, F.col("left_bound")).cast("long").alias("new_s"),
        F.least(F.col("e") + 15, F.col("right_bound")).cast("long").alias("new_e"),
    )


O_G10_SPREAD = """
WITH sp AS (
  SELECT doc_id, 120 + n_chars % 13 AS doc_len, 0 AS idx,
         10 AS s, 20 + n_chars % 5 AS e FROM documents
  UNION ALL
  SELECT doc_id, 120 + n_chars % 13, 1, 40 + n_chars % 7, 60 FROM documents
  UNION ALL
  SELECT doc_id, 120 + n_chars % 13, 2, 80, 90 + n_chars % 11 FROM documents
), g AS (
  SELECT doc_id, idx, s, e, doc_len,
         lag(e) OVER (PARTITION BY doc_id ORDER BY s) AS prev_e,
         lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS next_s
  FROM sp
), b AS (
  SELECT doc_id, idx, s, e,
         coalesce((prev_e + s + 1) // 2, 0) AS left_bound,
         coalesce((e + next_s + 1) // 2, doc_len) AS right_bound
  FROM g
)
SELECT doc_id, idx,
       CAST(greatest(s - 15, left_bound) AS BIGINT) AS new_s,
       CAST(least(e + 15, right_bound) AS BIGINT) AS new_e
FROM b
"""


def q_g13_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G13 spatial predicate family (reference repair.py:327-363
    decision table inputs): overlap / containment / equality /
    centroid-in tests over synthesized span pairs, aggregated per
    lang."""
    d = _t(spark, sf_dir, "documents")
    p = d.select(
        "lang",
        (F.col("n_chars") % 50).cast("long").alias("sa"),
        (F.col("n_chars") % 50 + 30).cast("long").alias("ea"),
        (F.col("n_chars") % 50 + F.col("n_chars") % 45).cast("long").alias("sb"),
        (F.col("n_chars") % 50 + F.col("n_chars") % 45 + 20).cast("long").alias("eb"),
    )
    return p.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(S.span_overlaps("sa", "ea", "sb", "eb").cast("long")).alias("n_overlap"),
        F.sum(S.span_contains("sa", "ea", "sb", "eb").cast("long")).alias("n_contains"),
        F.sum(
            (
                (F.col("sa") == F.col("sb")) & (F.col("ea") == F.col("eb"))
            ).cast("long")
        ).alias("n_equal"),
        F.sum(S.span_midpoint_in("sb", "eb", "sa", "ea").cast("long")).alias("n_mid_in"),
    )


O_G13_PREDICATES = """
WITH p AS (
  SELECT lang,
         n_chars % 50 AS sa, n_chars % 50 + 30 AS ea,
         n_chars % 50 + n_chars % 45 AS sb,
         n_chars % 50 + n_chars % 45 + 20 AS eb
  FROM documents
)
SELECT lang, count(*) AS n,
  CAST(sum(CASE WHEN sa < eb AND sb < ea THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
  CAST(sum(CASE WHEN sa <= sb AND eb <= ea THEN 1 ELSE 0 END) AS BIGINT) AS n_contains,
  CAST(sum(CASE WHEN sa = sb AND ea = eb THEN 1 ELSE 0 END) AS BIGINT) AS n_equal,
  CAST(sum(CASE WHEN sa <= (sb + eb) / 2.0 AND (sb + eb) / 2.0 < ea
           THEN 1 ELSE 0 END) AS BIGINT) AS n_mid_in
FROM p GROUP BY lang
"""


# ---------------------------------------------------------------------------
# COCO AP/AR summary + frame rebase
# ---------------------------------------------------------------------------

def q_eval_map_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCO summarize analog (reference evaluate.py:531-548): AP/AR
    over the IoU threshold sweep 0.50:0.05:0.95 per category.

    Includes deliberately one-sided categories (``gtonly`` appears only
    in GT, ``dtonly`` only in DT) so the full-outer category alignment
    of :func:`operators.evaluate.map_summary` is actually exercised —
    pycocotools likewise reports categories with zero detections
    (AP = 0) rather than dropping them."""
    gt, dt = _gt_dt_from_documents(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    gx = d.filter(F.col("doc_id") % 37 == 0).selectExpr(
        "cast(doc_id as string) as url", "'gx' as region_id",
        "'gtonly' as cat", "0L as start", "cast(n_chars as long) as end",
        "cast(1.0 as double) as score",
    )
    dx = d.filter(F.col("doc_id") % 41 == 0).selectExpr(
        "cast(doc_id as string) as url", "'dx' as region_id",
        "'dtonly' as cat", "0L as start", "cast(n_chars as long) as end",
        "cast(1.0 as double) as score",
    )
    return ev.map_summary(gt.unionByName(gx), dt.unionByName(dx))


O_EVAL_MAP = f"""
WITH {_O_GT_DT},
gt2 AS (
  SELECT url, cat, region_id, s, e FROM gt
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR), 'gtonly', 'gx', 0, n_chars
  FROM documents WHERE doc_id % 37 = 0
),
dt2 AS (
  SELECT url, cat, region_id, s, e FROM dt
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR), 'dtonly', 'dx', 0, n_chars
  FROM documents WHERE doc_id % 41 = 0
),
thr AS (
  SELECT unnest(generate_series(50, 95, 5)) / 100.0 AS t
),
pairs AS (
  SELECT gt2.url AS url, gt2.cat AS cat, gt2.region_id AS gt_id,
         dt2.region_id AS dt_id,
         greatest(0, least(gt2.e, dt2.e) - greatest(gt2.s, dt2.s)) * 1.0 /
           ((gt2.e - gt2.s) + (dt2.e - dt2.s)
            - greatest(0, least(gt2.e, dt2.e) - greatest(gt2.s, dt2.s))) AS iou
  FROM gt2 JOIN dt2 ON gt2.url = dt2.url AND gt2.cat = dt2.cat
),
hits AS (
  SELECT cat, t,
         count(DISTINCT url || '|' || gt_id) AS tp_gt,
         count(DISTINCT url || '|' || dt_id) AS tp_dt
  FROM pairs JOIN thr ON iou > t
  GROUP BY cat, t
),
totals AS (
  SELECT coalesce(g.cat, d.cat) AS cat,
         coalesce(g.n_gt, 0) AS n_gt, coalesce(d.n_dt, 0) AS n_dt FROM
    (SELECT cat, count(*) AS n_gt FROM gt2 GROUP BY cat) g
  FULL OUTER JOIN (SELECT cat, count(*) AS n_dt FROM dt2 GROUP BY cat) d
    ON g.cat = d.cat
),
grid AS (SELECT cat, n_gt, n_dt, t FROM totals CROSS JOIN thr),
per_t AS (
  SELECT grid.cat AS cat, grid.t AS t, grid.n_gt AS n_gt, grid.n_dt AS n_dt,
         coalesce(tp_gt, 0) AS tp_gt, coalesce(tp_dt, 0) AS tp_dt
  FROM grid LEFT JOIN hits ON grid.cat = hits.cat AND grid.t = hits.t
)
SELECT cat, count(*) AS n_thresholds,
       round(avg(CASE WHEN n_dt > 0 THEN tp_dt * 1.0 / n_dt ELSE 0.0 END), 6) AS map,
       round(avg(CASE WHEN n_gt > 0 THEN tp_gt * 1.0 / n_gt ELSE 0.0 END), 6) AS mar,
       CAST(max(n_gt) AS BIGINT) AS n_gt, CAST(max(n_dt) AS BIGINT) AS n_dt
FROM per_t GROUP BY cat
"""


def q_eval_only_fg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreground-masked evaluation — the reference's only-fg mode
    (evaluate.py:575-591: polygons ANDed with the binarized page
    before IoU). 1-D: every length counts non-whitespace chars only,
    so the masked IoU diverges from the raw interval IoU wherever a
    span boundary cuts through separator runs."""
    gt, dt = _gt_dt_from_documents(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    j = ev.pair_iou_masked(docs, gt, dt)
    matched = (
        F.coalesce(F.col("iou_fg") > 0.5, F.lit(False))
        | F.coalesce(F.col("io_gt_fg") > 0.5, F.lit(False))
        | F.coalesce(F.col("io_dt_fg") > 0.5, F.lit(False))
    )
    return j.select(
        F.col("url").cast("long").alias("doc_id"),
        "gt_id",
        "dt_id",
        F.round("iou", 6).alias("iou"),
        F.col("fg_inter").alias("fg_inter"),
        F.round("iou_fg", 6).alias("iou_fg"),
        matched.alias("matched_fg"),
    )


O_EVAL_ONLY_FG = f"""
WITH {_O_GT_DT},
tx AS (SELECT CAST(doc_id AS VARCHAR) AS url, text FROM documents),
p AS (
  SELECT gt.url AS url, gt.region_id AS gt_id, dt.region_id AS dt_id,
         gt.s AS gs, gt.e AS ge, dt.s AS ds, dt.e AS de
  FROM gt JOIN dt ON gt.url = dt.url AND gt.cat = dt.cat
), m AS (
  SELECT p.url, gt_id, dt_id, gs, ge, ds, de,
    CASE WHEN ge > gs THEN length(regexp_replace(
      substring(text, gs + 1, ge - gs), '[ \t\n\r\x0B\f]', '', 'g'))
      ELSE 0 END AS fg_gt,
    CASE WHEN de > ds THEN length(regexp_replace(
      substring(text, ds + 1, de - ds), '[ \t\n\r\x0B\f]', '', 'g'))
      ELSE 0 END AS fg_dt,
    CASE WHEN least(ge, de) > greatest(gs, ds) THEN length(regexp_replace(
      substring(text, greatest(gs, ds) + 1, least(ge, de) - greatest(gs, ds)),
      '[ \t\n\r\x0B\f]', '', 'g'))
      ELSE 0 END AS fg_inter
  FROM p JOIN tx ON p.url = tx.url
)
SELECT CAST(url AS BIGINT) AS doc_id, gt_id, dt_id,
  round(greatest(0, least(ge, de) - greatest(gs, ds)) * 1.0 /
        ((ge - gs) + (de - ds)
         - greatest(0, least(ge, de) - greatest(gs, ds))), 6) AS iou,
  CAST(fg_inter AS BIGINT) AS fg_inter,
  CASE WHEN fg_gt + fg_dt - fg_inter > 0
       THEN round(fg_inter * 1.0 / (fg_gt + fg_dt - fg_inter), 6)
       END AS iou_fg,
  (coalesce(fg_inter * 1.0 / nullif(fg_gt + fg_dt - fg_inter, 0) > 0.5, FALSE)
   OR coalesce(fg_inter * 1.0 / nullif(fg_gt, 0) > 0.5, FALSE)
   OR coalesce(fg_inter * 1.0 / nullif(fg_dt, 0) > 0.5, FALSE)) AS matched_fg
FROM m
"""


def q_replace_rebase_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replace_original / replace_page analog (reference
    replace_original.py:60-76 forward, replace_page.py:50-73 inverse):
    rebase every span into the second region's frame and back —
    roundtrip must be the identity."""
    pages = _pages_from_documents(spark, sf_dir, _BOILER)
    out = extract_pages(pages).withColumn(
        "orig_spans", F.col("region_spans")
    ).withColumn("origin", F.element_at("region_spans", 2)["start"])
    fwd = rebase_spans(out, F.col("origin"))
    fwd = fwd.withColumn("rebased", F.col("region_spans"))
    back = rebase_spans(fwd, -F.col("origin"))
    back = back.withColumn(
        "roundtrip_ok", F.col("region_spans") == F.col("orig_spans")
    )
    r = back.select(
        F.col("url").cast("long").alias("doc_id"),
        "roundtrip_ok",
        F.explode("rebased").alias("r"),
    )
    return r.select(
        "doc_id",
        F.col("r.region_id").alias("region_id"),
        F.col("r.start").cast("long").alias("rb_start"),
        F.col("r.end").cast("long").alias("rb_end"),
        "roundtrip_ok",
    )


O_REBASE_ROUNDTRIP = f"""
WITH c AS (SELECT doc_id, source, {_SQL_COLLAPSE} AS t FROM documents)
SELECT doc_id, 'r0008' AS region_id,
       CAST(-(length(source) + 1) AS BIGINT) AS rb_start,
       CAST(-1 AS BIGINT) AS rb_end, TRUE AS roundtrip_ok
FROM c
UNION ALL
SELECT doc_id, 'r0011', 0, CAST(length(t) AS BIGINT), TRUE FROM c
"""


def q_extract_media_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-text region candidates (reference project.py:50-65
    ImageRegion/SeparatorRegion vocabulary): zero-length media spans
    survive extraction when ``media_regions`` is on — a bare
    <figure><img/></figure> no longer vanishes."""
    from .config import ExtractParams

    html_expr = (
        "concat('<html><body>"
        "<h1>', source, '</h1>"
        "<figure><img src=\"/x.png\"/></figure>"
        "<p>', text, '</p>"
        "<hr/></body></html>')"
    )
    pages = _pages_from_documents(spark, sf_dir, html_expr)
    out = extract_pages(pages, params=ExtractParams(media_regions=True))
    r = out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.explode("region_spans").alias("r"),
    ).filter(F.col("r.rtype").isin("image", "separator", "media"))
    return r.select(
        "doc_id",
        F.col("r.region_id").alias("region_id"),
        F.col("r.rtype").alias("rtype"),
        F.col("r.subtype").alias("subtype"),
        F.col("r.start").cast("long").alias("m_start"),
        F.col("r.order").cast("int").alias("ord"),
    )


O_MEDIA_REGIONS = f"""
WITH c AS (SELECT doc_id, source, {_SQL_COLLAPSE} AS t FROM documents)
SELECT doc_id, 'm0000' AS region_id, 'image' AS rtype, 'img' AS subtype,
       CAST(length(source) + 1 AS BIGINT) AS m_start, CAST(2 AS INT) AS ord
FROM c
UNION ALL
SELECT doc_id, 'm0001', 'separator', 'hr',
       CAST(length(source) + 1 + length(t) AS BIGINT), CAST(3 AS INT)
FROM c
"""


def q_reading_order_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested reading-order groups (reference repair.py:521-543
    recursive Ordered/UnorderedGroup; extract_pages.py:435-467) as the
    flat adjacency table: page → regions → lines → words, members
    ordered by reading index."""
    from .functions.sublevels import reading_order_groups

    pages = _pages_from_documents(spark, sf_dir, _SINGLE_PARA)
    out = extract_pages(pages)
    g = reading_order_groups(out, line_width=_LINE_WIDTH)
    return g.select(
        F.col("url").cast("long").alias("doc_id"),
        "group_id", "level",
        F.col("n_members").cast("int").alias("n_members"),
        "member_ids",
    )


O_RO_GROUPS = f"""
WITH {_O_WORDS},
per_doc AS (
  SELECT doc_id, count(*) AS n_words,
         CAST(ceil(count(*) / {_LINE_WIDTH}.0) AS BIGINT) AS n_lines
  FROM o GROUP BY doc_id
)
SELECT doc_id, '#page' AS group_id, 'page' AS level,
       CAST(1 AS INT) AS n_members, 'r0003' AS member_ids
FROM per_doc
UNION ALL
SELECT doc_id, 'r0003', 'region', CAST(n_lines AS INT),
       array_to_string(
         list_transform(generate_series(0, CAST(n_lines - 1 AS INT)),
                        x -> printf('r0003_l%03d', x)), ',')
FROM per_doc
UNION ALL
SELECT doc_id, printf('r0003_l%03d', (i - 1) // {_LINE_WIDTH}), 'line',
       CAST(count(*) AS INT),
       string_agg(printf('r0003_w%04d', i - 1), ',' ORDER BY i)
FROM o GROUP BY doc_id, (i - 1) // {_LINE_WIDTH}
"""


def q_s13_colordict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 colordict sink (reference extract_pages.py:39-98): the
    observed category vocabulary mapped to deterministic colors, with
    the G18 hex→rgb split applied."""
    from .functions.misc import color_hex_to_rgb, colordict

    pages = _pages_from_documents(spark, sf_dir, _BOILER)
    out = extract_pages(pages)
    cats = (
        out.select(F.explode("region_spans").alias("r"))
        .select(
            F.concat(F.col("r.rtype"), F.lit("."), F.col("r.subtype")).alias("name")
        )
        .distinct()
    )
    cd = colordict(cats)
    return cd.select("name", "color", *color_hex_to_rgb("color"))


O_S13_COLORDICT = """
WITH cats AS (SELECT 'heading.h1' AS name UNION ALL SELECT 'paragraph.p'),
cd AS (SELECT name, upper(substring(md5(name), 1, 6)) AS color FROM cats)
SELECT name, color,
       CAST(('0x' || substring(color, 1, 2))::INT AS INT) AS r,
       CAST(('0x' || substring(color, 3, 2))::INT AS INT) AS g,
       CAST(('0x' || substring(color, 5, 2))::INT AS INT) AS b
FROM cd
"""


def q_s2_feature_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/P5 feature selector/filter predicates (reference
    repair.py:112-115 requires 'binarized', forbids 'clipped') over a
    synthesized lineage features column — plain pushable predicate."""
    from .functions.multimodal import feature_chain_predicate

    d = _t(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        F.concat(
            F.array(F.lit("cropped")),
            F.when(d.doc_id % 2 == 0, F.array(F.lit("binarized"))).otherwise(
                F.array()
            ),
            F.when(d.doc_id % 3 == 0, F.array(F.lit("clipped"))).otherwise(F.array()),
        ).alias("features"),
    )
    kept = feats.filter(
        feature_chain_predicate(
            F.col("features"), selector="binarized,cropped", feature_filter="clipped"
        )
    )
    return kept.select(
        "doc_id", F.array_join("features", ",").alias("features_csv")
    )


O_S2_FEATURE_CHAIN = """
SELECT doc_id,
       'cropped,binarized' AS features_csv
FROM documents WHERE doc_id % 2 = 0 AND doc_id % 3 != 0
"""


def q_extract_style_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full TextStyle struct (reference extract_lines.py:201-219 /
    extract_words.py:127-145): inline b/code tags AND inline-CSS
    ``style=`` attributes (kernel 1.5.0 css_styles) become styled char
    ranges in the output frame — the bold run carries
    fontFamily/fontSize/serif from its style attribute, the code run
    leaves them null (unspecified)."""
    from .config import ExtractParams
    from .pipeline import extract_pages

    html_expr = (
        "concat('<html><body><p>"
        "<b style=\"font-family: Georgia, serif; font-size: 16px\">', source,"
        " '</b> middle words <code>', text, '</code></p></body></html>')"
    )
    pages = _pages_from_documents(spark, sf_dir, html_expr)
    out = extract_pages(pages, ExtractParams(style_spans=True, css_styles=True))
    r = out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.explode("style_spans").alias("s"),
    )
    return r.select(
        "doc_id",
        F.col("s.start").cast("long").alias("run_start"),
        F.col("s.end").cast("long").alias("run_end"),
        F.col("s.bold").alias("bold"),
        F.col("s.italic").alias("italic"),
        F.col("s.monospace").alias("monospace"),
        F.col("s.font_family").alias("font_family"),
        F.col("s.font_size").alias("font_size"),
        F.col("s.serif").alias("serif"),
        F.col("s.small_caps").alias("small_caps"),
    )


O_STYLE_RUNS = f"""
WITH c AS (SELECT doc_id, source, {_SQL_COLLAPSE} AS t FROM documents)
SELECT doc_id, CAST(0 AS BIGINT) AS run_start,
       CAST(length(source) AS BIGINT) AS run_end,
       TRUE AS bold, FALSE AS italic, FALSE AS monospace,
       'Georgia' AS font_family, 12.0 AS font_size,
       TRUE AS serif, CAST(NULL AS BOOLEAN) AS small_caps
FROM c
UNION ALL
SELECT doc_id, CAST(length(source) + 14 AS BIGINT),
       CAST(length(source) + 14 + length(t) AS BIGINT),
       FALSE, FALSE, TRUE,
       CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
       CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN)
FROM c
"""


def q_extract_reading_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orientation analog (reference extract_pages.py:300 page
    orientation; extract_words.py:150-168 readingDirection fallback
    chains): per-region ``dir`` resolved from the nearest valid
    ``dir=`` ancestor (kernel 1.5.0, params.reading_direction).
    Region 0 inherits the body's rtl; region 1 overrides with its own
    LTR (case-insensitive); region 2 carries an invalid value, which
    the ancestor walk skips → rtl again."""
    from .config import ExtractParams

    html_expr = (
        "concat('<html><body dir=\"rtl\"><p>', source, '</p>"
        "<p dir=\"LTR\">', text, '</p>"
        "<p dir=\"bogus\">trailing paragraph words</p></body></html>')"
    )
    pages = _pages_from_documents(spark, sf_dir, html_expr)
    out = extract_pages(pages, ExtractParams(reading_direction=True))
    r = out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.explode("region_spans").alias("r"),
    )
    return r.select(
        "doc_id",
        F.col("r.order").cast("int").alias("ord"),
        F.col("r.dir").alias("rdir"),
    )


O_READING_DIRECTION = """
SELECT doc_id, 0 AS ord, 'rtl' AS rdir FROM documents
UNION ALL SELECT doc_id, 1, 'ltr' FROM documents
UNION ALL SELECT doc_id, 2, 'rtl' FROM documents
"""


def q_replace_textequiv_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextEquiv history roundtrip (reference replace_text.py:62
    ``insert_TextEquiv_at(0, …)``): the correction is PREPENDED at
    index 0 and the prior text PRESERVED at index 1 — selecting
    index 1 after the replace returns the ORIGINAL heading, selecting
    first returns the correction, and indices stay dense."""
    from .functions.textequiv import textequiv_text
    from .sources.text_files import replace_region_text

    pages = _pages_from_documents(spark, sf_dir, _BOILER)
    out = extract_pages(pages)
    docs = _t(spark, sf_dir, "documents")
    files = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.concat(
            F.lit("/gt/"), F.col("doc_id").cast("string"), F.lit("_r0008.gt.txt")
        ).alias("path"),
        F.lit("fixed heading").alias("content"),
    )
    replaced = replace_region_text(out, files)
    return replaced.select(
        F.col("url").cast("long").alias("doc_id"),
        "region_id",
        textequiv_text("alternatives", "first").alias("current_text"),
        textequiv_text("alternatives", "1").alias("prior_text"),
        F.size("alternatives").alias("n_alts"),
        (
            textequiv_text("alternatives", "1") == F.col("old_text")
        ).alias("history_preserved"),
    )


O_TEXTEQUIV_HISTORY = """
SELECT doc_id, 'r0008' AS region_id,
       'fixed heading' AS current_text,
       source AS prior_text,
       2 AS n_alts,
       TRUE AS history_preserved
FROM documents WHERE doc_id % 3 = 0
"""


def q_coco_apply_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ocrd-segment-from-coco analog (reference
    import_coco_segmentation.py:104-215): export the extracted
    segmentation to COCO tables, re-apply them onto the pages, and the
    applied spans must reproduce the originals exactly."""
    from .sources.coco import apply_coco_segmentation, export_coco

    pages = _pages_from_documents(spark, sf_dir, _BOILER)
    out = extract_pages(pages)
    images, annotations, categories = export_coco(out)
    applied = apply_coco_segmentation(out, images, annotations, categories)
    r = applied.select(
        F.col("url").cast("long").alias("doc_id"),
        F.explode("region_spans").alias("r"),
    )
    return r.select(
        "doc_id",
        F.col("r.rtype").alias("rtype"),
        F.col("r.start").cast("long").alias("span_start"),
        F.col("r.end").cast("long").alias("span_end"),
        F.col("r.order").cast("int").alias("ord"),
    )


O_COCO_APPLY = f"""
WITH c AS (SELECT doc_id, source, {_SQL_COLLAPSE} AS t FROM documents)
SELECT doc_id, 'heading.h1' AS rtype, CAST(0 AS BIGINT) AS span_start,
       CAST(length(source) AS BIGINT) AS span_end, CAST(0 AS INT) AS ord
FROM c
UNION ALL
SELECT doc_id, 'paragraph.p', CAST(length(source) + 1 AS BIGINT),
       CAST(length(source) + 1 + length(t) AS BIGINT), CAST(1 AS INT)
FROM c
"""


def q_extract_word_spans_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word level across MULTIPLE regions (boiler template: heading +
    paragraph): absolute offsets must account for each region's start
    and the separator between regions."""
    pages = _pages_from_documents(spark, sf_dir, _BOILER)
    out = extract_pages(pages)
    wt = words_table(out, line_width=_LINE_WIDTH)
    return wt.groupBy(F.col("url").cast("long").alias("doc_id"), "region_id").agg(
        F.count("*").alias("n_words"),
        F.min("start").cast("long").alias("first_start"),
        F.max("end").cast("long").alias("last_end"),
        F.sum(F.col("end") - F.col("start")).cast("long").alias("char_sum"),
    )
O_WORD_SPANS_MULTI = f"""
WITH c AS (SELECT doc_id, source, {_SQL_COLLAPSE} AS t FROM documents),
h AS (  -- heading region r0008: words of `source` at offset 0
  SELECT doc_id, 'r0008' AS region_id,
         CAST(len(string_split(source, ' ')) AS BIGINT) AS n_words,
         CAST(0 AS BIGINT) AS first_start,
         CAST(length(source) AS BIGINT) AS last_end,
         CAST(length(source) - len(string_split(source, ' ')) + 1 AS BIGINT)
           AS char_sum
  FROM c
),
p AS (  -- paragraph region r0011: words of t at offset len(source)+1
  SELECT doc_id, 'r0011',
         CAST(len(string_split(t, ' ')) AS BIGINT),
         CAST(length(source) + 1 AS BIGINT),
         CAST(length(source) + 1 + length(t) AS BIGINT),
         CAST(length(t) - len(string_split(t, ' ')) + 1 AS BIGINT)
  FROM c
)
SELECT * FROM h UNION ALL SELECT * FROM p
"""


def q_word_reconstruct_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 byte-identity pushed one level down: re-joining the word
    slices with single spaces must reproduce the region text exactly —
    digest-checked per document (words are a lossless decomposition)."""
    pages = _pages_from_documents(spark, sf_dir, _SINGLE_PARA)
    out = extract_pages(pages)
    wt = words_table(out, line_width=_LINE_WIDTH)
    rebuilt = wt.groupBy(F.col("url").cast("long").alias("doc_id")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("start", "word_text"))),
                lambda x: x["word_text"],
            ),
            " ",
        ).alias("rebuilt")
    )
    return rebuilt.select(
        "doc_id", F.md5(F.col("rebuilt").cast("binary")).alias("digest")
    )


O_WORD_RECONSTRUCT = f"""
SELECT doc_id, md5({_SQL_COLLAPSE}) AS digest FROM documents
"""


def q_s5_label_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 from-masks analog (reference import_image_segmentation.py):
    per-char label mask → equal-label runs → typed regions via a
    colordict; unmapped labels surface as 'unknown'."""
    from .sources.labels import import_label_segmentation

    d = _t(spark, sf_dir, "documents")
    masked = d.select(
        "doc_id",
        F.expr(
            "concat(repeat('h', n_chars % 7 + 1), repeat('p', n_chars % 5 + 2),"
            " repeat(CASE WHEN doc_id % 4 = 0 THEN 'x' ELSE 't' END,"
            " n_chars % 3 + 1))"
        ).alias("labels"),
    )
    out = import_label_segmentation(
        masked, {"h": "heading", "p": "paragraph", "t": "table"}
    )
    r = out.select("doc_id", F.explode("region_spans").alias("r"))
    return r.select(
        "doc_id",
        F.col("r.region_id").alias("region_id"),
        F.col("r.rtype").alias("rtype"),
        F.col("r.subtype").alias("label"),
        F.col("r.start").cast("long").alias("m_start"),
        F.col("r.end").cast("long").alias("m_end"),
    )


O_S5_LABELS = """
WITH m AS (
  SELECT doc_id,
         n_chars % 7 + 1 AS k, n_chars % 5 + 2 AS p, n_chars % 3 + 1 AS r,
         CASE WHEN doc_id % 4 = 0 THEN 'x' ELSE 't' END AS last_label
  FROM documents
)
SELECT doc_id, 's0000' AS region_id, 'heading' AS rtype, 'h' AS label,
       CAST(0 AS BIGINT) AS m_start, CAST(k AS BIGINT) AS m_end FROM m
UNION ALL
SELECT doc_id, 's0001', 'paragraph', 'p', CAST(k AS BIGINT),
       CAST(k + p AS BIGINT) FROM m
UNION ALL
SELECT doc_id, 's0002',
       CASE WHEN last_label = 'x' THEN 'unknown' ELSE 'table' END,
       last_label, CAST(k + p AS BIGINT), CAST(k + p + r AS BIGINT) FROM m
"""


def q_project_hull_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ocrd-segment-project analog (reference project.py:31-46): after
    G10 spread grows spans into the separator gap, projecting each
    region to the hull of its words restores the exact token hulls —
    i.e. the default (unspread) extraction spans."""
    from .config import ExtractParams
    from .operators.repair import project_hull

    pages = _pages_from_documents(spark, sf_dir, _BOILER)
    out = extract_pages(pages, params=ExtractParams(spread_chars=1))
    hulled = project_hull(out)
    r = hulled.select(
        F.col("url").cast("long").alias("doc_id"),
        F.explode("region_spans").alias("r"),
    )
    return r.select(
        "doc_id",
        F.col("r.region_id").alias("region_id"),
        F.col("r.start").cast("long").alias("span_start"),
        F.col("r.end").cast("long").alias("span_end"),
    )


# spread(1) grows each span one char into its doc-frame gaps (which
# hold the DROPPED nav/link-farm tokens, so the grown char is a space):
# heading piece ' source ' spans [0, ls+2], para piece ' t' spans
# [ls+3, ls+4+lt]; the hulls strip the spaces back off.
O_PROJECT_HULL = f"""
WITH c AS (SELECT doc_id, source, {_SQL_COLLAPSE} AS t FROM documents)
SELECT doc_id, 'r0008' AS region_id, CAST(1 AS BIGINT) AS span_start,
       CAST(1 + length(source) AS BIGINT) AS span_end
FROM c
UNION ALL
SELECT doc_id, 'r0011', CAST(length(source) + 4 AS BIGINT),
       CAST(length(source) + 4 + length(t) AS BIGINT)
FROM c
"""


def q_s11_gt_review_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 xlsx-sink analog: the editable per-line GT review table
    (transcription + type + validation vocabulary + stable ids)."""
    from .sources.text_files import gt_review_table

    pages = _pages_from_documents(spark, sf_dir, _SINGLE_PARA)
    out = extract_pages(pages)
    t = gt_review_table(out, line_width=_LINE_WIDTH)
    return t.select(
        F.col("url").cast("long").alias("doc_id"),
        "region_id", "line_id", "transcription", "rtype", "n_words", "validation",
    )


O_S11_REVIEW = f"""
WITH {_O_WORDS},
l AS (
  SELECT doc_id, any_value(t) AS t, (i - 1) // {_LINE_WIDTH} AS li,
         min(s) AS l_start, max(s + length(word)) AS l_end,
         CAST(count(*) AS INT) AS n_words
  FROM o GROUP BY doc_id, (i - 1) // {_LINE_WIDTH}
)
SELECT doc_id, 'r0003' AS region_id, printf('r0003_l%03d', li) AS line_id,
       substring(t, CAST(l_start + 1 AS INT), CAST(l_end - l_start AS INT))
         AS transcription,
       'paragraph' AS rtype, n_words,
       'aside|caption|footer|header|heading|list|nav|paragraph|pre|quote|table'
         AS validation
FROM l
"""


def q_extract_pre_verbatim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim <pre> extraction (kernel 1.6.0, params.preserve_pre) —
    the training-data fidelity knob: code blocks keep indentation,
    blank lines and trailing spaces instead of the collapse-and-join
    rule (reference extract_lines.py:280-283 writes text sinks
    byte-identically; the 1-D analog of "the region's own bytes").
    Pages carry a heading, a <pre> code block whose body embeds
    newlines / a tab / trailing spaces, and a trailing paragraph; the
    pre region's span must slice the verbatim text exactly."""
    from .config import ExtractParams

    html_expr = (
        "concat('<html><body><h1>', source, '</h1><pre>', chr(10),"
        " 'def f(', source, '):', chr(10),"
        " chr(9), 'return ', cast(doc_id as string), '  ', chr(10),"
        " '</pre><p>', text, '</p></body></html>')"
    )
    pages = _pages_from_documents(spark, sf_dir, html_expr)
    out = extract_pages(pages, ExtractParams(preserve_pre=True))
    sp = F.expr("filter(region_spans, r -> r.rtype = 'pre')")
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        "extracted_text",
        F.get(sp, 0).alias("_p"),
    ).select(
        "doc_id",
        "extracted_text",
        F.col("_p.start").alias("pre_start"),
        F.expr(
            "substring(extracted_text, cast(_p.start as int) + 1,"
            " cast(_p.end - _p.start as int))"
        ).alias("pre_text"),
    )


# one string both frames agree on: 'def f(<source>):\n\t return <id>  \n'
# (leading newline dropped per the HTML spec rule, trailing kept)
_O_PRE_BODY = (
    "'def f(' || source || '):' || chr(10) || chr(9) || 'return '"
    " || cast(doc_id as varchar) || '  ' || chr(10)"
)

O_PRE_VERBATIM = f"""
SELECT doc_id,
       source || chr(10) || {_O_PRE_BODY} || chr(10) ||
         {_SQL_COLLAPSE} AS extracted_text,
       length(source) + 1 AS pre_start,
       {_O_PRE_BODY} AS pre_text
FROM documents
"""
