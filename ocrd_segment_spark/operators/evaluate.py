"""Segmentation evaluation — the Spark re-expression of
``page-segment-evaluate`` (reference evaluate.py, SURVEY.md §3.3).

GT and DT are span tables ``(url, region_id, cat, start, end, score)``
(FIXTURES.md F3). The reference computes polygon-mask IoU matrices in
pycocotools C per (image, category) and applies a custom n:m matching
(evaluate.py:374-404); in 1-D the IoU matrix is exact interval algebra,
so the whole pipeline is native Spark SQL — joins, anti-joins and
two-phase aggregation; no UDF anywhere.

Stages:

1. ``match_spans``   — n:m theta-join per (url, cat) with the triple
   0.5-threshold rule ``IoU>0.5 OR IoGT>0.5 OR IoDT>0.5``
   (evaluate.py:398-399; explicitly NOT 1:1, see the rationale comment
   evaluate.py:318-330).
2. ``misses``        — unmatched DT = false positives, unmatched GT =
   false negatives, as anti-joins (evaluate.py:414-429).
3. ``per_image_stats`` — per-(url, cat) TP/FP/FN counts, precision,
   recall, char-weighted ("pixel") precision/recall/IoU
   (evaluate.py:400-458).
4. ``per_cat_stats``  — micro-averages across images + over-/under-
   segmentation degree: GT matched by >1 DT and DT matching >1 GT
   (evaluate.py:432-449, after Zhang et al., arXiv:2101.08418 as cited
   at evaluate.py:430-431; the ratio normalization is re-derived for
   intervals and frozen here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pair_iou(gt: DataFrame, dt: DataFrame) -> DataFrame:
    """All (gt, dt) pairs per (url, cat) with interval IoU / IoGT /
    IoDT computed, UNfiltered — the raw match matrix the reference
    hands to its matching and its COCO summarize sweep
    (evaluate.py:374-397). Equi-join on (url, cat) carries the
    shuffle; per-page span counts are small, exactly like the
    reference's per-page matrices."""
    # degenerate (empty) spans would divide-by-zero under ANSI mode;
    # GT/DT may be externally imported, so validity is enforced here
    # rather than assumed (P8 analog)
    g = gt.filter(F.col("end") > F.col("start")).select(
        "url", "cat",
        F.col("region_id").alias("gt_id"),
        F.col("start").alias("gs"), F.col("end").alias("ge"),
    )
    d = dt.filter(F.col("end") > F.col("start")).select(
        "url", "cat",
        F.col("region_id").alias("dt_id"),
        F.col("start").alias("ds"), F.col("end").alias("de"),
        F.col("score").alias("dt_score"),
    )
    j = g.join(d, ["url", "cat"]).withColumn(
        "inter",
        F.greatest(F.lit(0), F.least("ge", "de") - F.greatest("gs", "ds")),
    )
    j = j.withColumn("glen", F.col("ge") - F.col("gs")).withColumn(
        "dlen", F.col("de") - F.col("ds")
    )
    return j.withColumn(
        "iou", F.col("inter") / (F.col("glen") + F.col("dlen") - F.col("inter"))
    ).withColumn("io_gt", F.col("inter") / F.col("glen")).withColumn(
        "io_dt", F.col("inter") / F.col("dlen")
    )


def match_spans(gt: DataFrame, dt: DataFrame) -> DataFrame:
    """Matching pairs under the triple 0.5-threshold rule
    (evaluate.py:398-399) — :func:`pair_iou` filtered."""
    j = pair_iou(gt, dt)
    return j.filter(
        (F.col("iou") > 0.5) | (F.col("io_gt") > 0.5) | (F.col("io_dt") > 0.5)
    )


def misses(gt: DataFrame, dt: DataFrame, matches: DataFrame):
    """(false_negatives, false_positives): anti-join each side against
    the match set (evaluate.py:414-429)."""
    fn = gt.join(
        matches.select("url", "cat", F.col("gt_id").alias("region_id")).distinct(),
        ["url", "cat", "region_id"],
        "left_anti",
    )
    fp = dt.join(
        matches.select("url", "cat", F.col("dt_id").alias("region_id")).distinct(),
        ["url", "cat", "region_id"],
        "left_anti",
    )
    return fn, fp


def per_image_stats(gt: DataFrame, dt: DataFrame, matches: DataFrame) -> DataFrame:
    """Per-(url, cat) stats (A1, evaluate.py:400-458). Counts are
    matched-side distinct; char sums are over match pairs, like the
    reference's per-pair area sums."""
    n_gt = gt.groupBy("url", "cat").agg(
        F.count("*").alias("n_gt"),
        F.sum(F.col("end") - F.col("start")).alias("gt_chars"),
    )
    n_dt = dt.groupBy("url", "cat").agg(
        F.count("*").alias("n_dt"),
        F.sum(F.col("end") - F.col("start")).alias("dt_chars"),
    )
    m = matches.groupBy("url", "cat").agg(
        F.countDistinct("gt_id").alias("tp_gt"),
        F.countDistinct("dt_id").alias("tp_dt"),
        F.sum("inter").alias("inter_chars"),
        F.round(F.avg("iou"), 6).alias("avg_iou"),
    )
    out = (
        n_gt.join(n_dt, ["url", "cat"], "full_outer")
        .join(m, ["url", "cat"], "left")
        .fillna(0, ["n_gt", "n_dt", "gt_chars", "dt_chars", "tp_gt", "tp_dt", "inter_chars"])
    )
    return out.select(
        "url", "cat", "n_gt", "n_dt", "tp_gt", "tp_dt",
        (F.col("n_dt") - F.col("tp_dt")).alias("fp"),
        (F.col("n_gt") - F.col("tp_gt")).alias("fn"),
        F.round(
            F.when(F.col("n_dt") > 0, F.col("tp_dt") / F.col("n_dt")).otherwise(0.0), 6
        ).alias("precision"),
        F.round(
            F.when(F.col("n_gt") > 0, F.col("tp_gt") / F.col("n_gt")).otherwise(0.0), 6
        ).alias("recall"),
        F.round(
            F.when(F.col("dt_chars") > 0, F.col("inter_chars") / F.col("dt_chars"))
            .otherwise(0.0), 6
        ).alias("pixel_precision"),
        F.round(
            F.when(F.col("gt_chars") > 0, F.col("inter_chars") / F.col("gt_chars"))
            .otherwise(0.0), 6
        ).alias("pixel_recall"),
        "avg_iou",
    )


def per_cat_stats(gt: DataFrame, dt: DataFrame, matches: DataFrame) -> DataFrame:
    """Per-category micro-averages + over/under-segmentation degree
    (A2/A3, evaluate.py:468-529). Frozen 1-D re-derivation:
    over_seg = GT regions matched by >1 DT / GT regions matched;
    under_seg = DT regions matching >1 GT / DT regions matched."""
    per_gt = matches.groupBy("cat", "url", "gt_id").agg(
        F.count("*").alias("n_dt_for_gt")
    )
    per_dt = matches.groupBy("cat", "url", "dt_id").agg(
        F.count("*").alias("n_gt_for_dt")
    )
    over = per_gt.groupBy("cat").agg(
        F.count("*").alias("gt_matched"),
        F.sum((F.col("n_dt_for_gt") > 1).cast("long")).alias("gt_multi"),
    )
    under = per_dt.groupBy("cat").agg(
        F.count("*").alias("dt_matched"),
        F.sum((F.col("n_gt_for_dt") > 1).cast("long")).alias("dt_multi"),
    )
    totals = (
        gt.groupBy("cat").agg(F.count("*").alias("n_gt"))
        .join(dt.groupBy("cat").agg(F.count("*").alias("n_dt")), "cat", "full_outer")
    )
    iou = matches.groupBy("cat").agg(F.round(F.avg("iou"), 6).alias("avg_iou"))
    out = (
        totals.join(over, "cat", "left").join(under, "cat", "left")
        .join(iou, "cat", "left")
        .fillna(0, ["n_gt", "n_dt", "gt_matched", "gt_multi", "dt_matched", "dt_multi"])
    )
    return out.select(
        "cat", "n_gt", "n_dt", "gt_matched", "dt_matched",
        F.round(
            F.when(F.col("gt_matched") > 0, F.col("gt_multi") / F.col("gt_matched"))
            .otherwise(0.0), 6
        ).alias("over_seg"),
        F.round(
            F.when(F.col("dt_matched") > 0, F.col("dt_multi") / F.col("dt_matched"))
            .otherwise(0.0), 6
        ).alias("under_seg"),
        F.round(
            F.when(F.col("n_gt") > 0, F.col("gt_matched") / F.col("n_gt"))
            .otherwise(0.0), 6
        ).alias("recall"),
        F.round(
            F.when(F.col("n_dt") > 0, F.col("dt_matched") / F.col("n_dt"))
            .otherwise(0.0), 6
        ).alias("precision"),
        "avg_iou",
    )


# Java/RE2-portable 6-char ASCII whitespace class (same vocabulary as
# functions/sublevels._is_ws) — the 1-D "background" of a document.
_WS_CLASS = r"[ \t\n\r\x0B\f]"


def pair_iou_masked(docs: DataFrame, gt: DataFrame, dt: DataFrame,
                    text_col: str = "text") -> DataFrame:
    """Foreground-masked pair IoU — the reference's "only-fg" mode
    (evaluate.py:575-591: each segment polygon is ANDed with the
    binarized page image before the IoU matrix is built, so background
    pixels inside a polygon don't count). 1-D re-derivation:
    foreground = non-whitespace chars of the document text; every
    length in the IoU is the count of foreground chars inside the
    interval, not its raw width.

    Returns :func:`pair_iou`'s columns plus (fg_gt, fg_dt, fg_inter,
    iou_fg, io_gt_fg, io_dt_fg). Degenerate masked spans (zero
    foreground chars) yield NULL masked ratios — the reference skips
    all-background masks the same way (empty mask → no match entry).

    Scale: ONE extra equi-join on url to attach the text (corpus-keyed,
    co-partitions with the pair join); the char math is substring +
    regexp_replace inside whole-stage codegen, no UDF. Texts travel to
    pairs once per (url, cat) pair — per-page pair counts are small,
    exactly like the reference's per-page mask matrices."""
    j = pair_iou(gt, dt).withColumn(
        "_is", F.greatest("gs", "ds")
    ).withColumn("_ie", F.least("ge", "de"))
    j = j.join(docs.select("url", F.col(text_col).alias("_t")), "url")

    def fg_count(s, e):
        s, e = F.col(s), F.col(e)
        return F.when(
            e > s,
            F.length(
                F.regexp_replace(
                    F.substring(F.col("_t"), (s + 1).cast("int"), (e - s).cast("int")),
                    _WS_CLASS,
                    "",
                )
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    j = (
        j.withColumn("fg_gt", fg_count("gs", "ge"))
        .withColumn("fg_dt", fg_count("ds", "de"))
        .withColumn("fg_inter", fg_count("_is", "_ie"))
        .drop("_is", "_ie", "_t")
    )
    denom = F.col("fg_gt") + F.col("fg_dt") - F.col("fg_inter")
    return (
        j.withColumn(
            "iou_fg", F.when(denom > 0, F.col("fg_inter") / denom)
        )
        .withColumn(
            "io_gt_fg",
            F.when(F.col("fg_gt") > 0, F.col("fg_inter") / F.col("fg_gt")),
        )
        .withColumn(
            "io_dt_fg",
            F.when(F.col("fg_dt") > 0, F.col("fg_inter") / F.col("fg_dt")),
        )
    )


# the stock COCO IoU sweep: 0.50:0.05:0.95 (reference evaluate.py:531-548
# summarize defaults, via pycocotools Params.setDetParams)
EVAL_THRESHOLDS = tuple(t / 100.0 for t in range(50, 96, 5))


def map_summary(
    gt: DataFrame, dt: DataFrame, thresholds=EVAL_THRESHOLDS
) -> DataFrame:
    """COCO-style AP/AR summary (reference evaluate.py:531-548): for
    each IoU threshold t, a GT/DT counts as matched when some pair has
    ``iou > t``; per category, mAP = mean over thresholds of
    tp_dt/n_dt and mAR = mean of tp_gt/n_gt.

    Frozen 1-D re-derivation: the reference's score-ranked PR curve
    degenerates because the engine emits one score per region and
    matching is n:m, so precision-at-threshold IS the PR summary.

    Scale: pairs×|thresholds| rows (10×) with the thresholds side
    broadcast — no extra corpus-wide shuffle beyond the pair join;
    the (cat, t) aggregation is bounded by |vocabulary|×10 groups."""
    spark = gt.sparkSession
    thr = spark.range(1).select(
        F.explode(F.array([F.lit(float(t)) for t in thresholds])).alias("t")
    )
    pairs = pair_iou(gt, dt).select("url", "cat", "gt_id", "dt_id", "iou")
    hits = (
        pairs.join(F.broadcast(thr), F.col("iou") > F.col("t"))
        .groupBy("cat", "t")
        .agg(
            F.countDistinct("url", "gt_id").alias("tp_gt"),
            F.countDistinct("url", "dt_id").alias("tp_dt"),
        )
    )
    totals = (
        gt.groupBy("cat").agg(F.count("*").alias("n_gt"))
        .join(dt.groupBy("cat").agg(F.count("*").alias("n_dt")), "cat", "full_outer")
        .fillna(0, ["n_gt", "n_dt"])
    )
    # scaffold every (cat, t) so thresholds with zero matches count as
    # precision/recall 0 in the mean (pycocotools does the same via -1
    # masking over the full threshold axis)
    grid = totals.crossJoin(F.broadcast(thr))
    per_t = grid.join(hits, ["cat", "t"], "left").fillna(0, ["tp_gt", "tp_dt"])
    per_t = per_t.withColumn(
        "prec",
        F.when(F.col("n_dt") > 0, F.col("tp_dt") / F.col("n_dt")).otherwise(0.0),
    ).withColumn(
        "rec",
        F.when(F.col("n_gt") > 0, F.col("tp_gt") / F.col("n_gt")).otherwise(0.0),
    )
    return per_t.groupBy("cat").agg(
        F.count("*").alias("n_thresholds"),
        F.round(F.avg("prec"), 6).alias("map"),
        F.round(F.avg("rec"), 6).alias("mar"),
        F.max("n_gt").alias("n_gt"),
        F.max("n_dt").alias("n_dt"),
    )
