"""DataFrame-level region repair — ``ocrd-segment-repair`` semantics
(reference repair.py:107-186 stage order) over an arbitrary spans
table, independent of the HTML kernel (which fuses the same stages
per-document inside mapInArrow; this operator is for span tables
that arrive WITHOUT their source documents, e.g. imported COCO-style
detections).

Input: (url, region_id, start, end, depth[, doc_len]).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_PARAMS, ExtractParams
from ..functions import spans as S
from ..kernel import intervals as iv

REPAIR_SCHEMA = (
    "url string, region_id string, start long, end long, action string"
)

_ACTION_NAMES = {iv.KEEP: "keep", iv.DELETE: "delete", iv.MERGE_INTO: "merge"}


def validity_filter(df: DataFrame, doc_len_col: str = "doc_len") -> DataFrame:
    """G8/P6/P8: clamp + drop empty, entirely native (no UDF)."""
    s = S.span_clamp_start("start", "end")
    e = S.span_clamp_end("start", "end")
    out = df.withColumn("start", F.greatest(s, F.lit(0))).withColumn(
        "end", F.least(e, F.col(doc_len_col))
    )
    return out.filter(F.col("end") > F.col("start"))


def plausibilize(
    df: DataFrame, params: ExtractParams = DEFAULT_PARAMS
) -> DataFrame:
    """J2/J3 + G4/G14/G15 analysis+apply per url via the frozen kernel
    (reference decision table repair.py:310-365; worklist split
    repair.py:213-276). applyInPandas after groupBy(url): one shuffle
    on url, page-sized groups — the same granularity the reference
    processes, but distributed."""

    def per_url(pdf: pd.DataFrame) -> pd.DataFrame:
        # rows arrive in arbitrary shuffle order, but the kernel's
        # tiebreaks are input-order-dependent ("document order") — fix
        # the frozen order as (start, end, region_id) so output is
        # deterministic across partitionings/AQE
        pdf = pdf.sort_values(["start", "end", "region_id"]).reset_index(drop=True)
        acts, s, e = iv.plausibilize(
            pdf["start"].to_numpy(),
            pdf["end"].to_numpy(),
            pdf["depth"].to_numpy(),
            params.merge_min_overlap,
        )
        return pd.DataFrame(
            {
                "url": pdf["url"],
                "region_id": pdf["region_id"],
                "start": s,
                "end": e,
                "action": [_ACTION_NAMES[int(a)] for a in acts],
            }
        )

    return df.groupBy("url").applyInPandas(per_url, REPAIR_SCHEMA)


def rebase_spans(df: DataFrame, origin) -> DataFrame:
    """G17 end-to-end frame rebase — the replace_original /
    replace_page analog (reference replace_original.py:60-76 rebases
    all segment coords into the original image frame;
    replace_page.py:50-73 is the inverse): shift EVERY region span by
    ``-origin`` (a per-row Column). ``rebase_spans(out, -origin)``
    inverts it exactly (affine, no clipping — the 1-D transform has no
    rotation component).

    Narrow array transform — per-row compute, zero shuffle at any
    scale."""
    o = origin
    return df.withColumn(
        "region_spans",
        F.transform(
            "region_spans",
            lambda r: r.withField("start", (r["start"] - o).cast("long")).withField(
                "end", (r["end"] - o).cast("long")
            ),
        ),
    )


def project_hull(df: DataFrame) -> DataFrame:
    """``ocrd-segment-project`` analog (reference project.py:31-46):
    update every region's coordinates to the minimal hull of its
    constituent words — in 1-D the convex hull IS (first word start,
    last word end), so the shapely MST/alpha-shape machinery
    degenerates to two array lookups. Regions with no word
    constituents keep their span unchanged (reference: 'unless no such
    constituents exist' — e.g. zero-length media regions).

    Narrow: per-region word scans bound through zip_with lambda
    variables (no per-element re-evaluation), zero shuffle."""
    from ..functions.sublevels import _raw_word_scan

    text = F.col("extracted_text")
    nested = F.transform(
        F.col("region_spans"),
        lambda r: _raw_word_scan(text, r["start"], r["end"]),
    )
    new_spans = F.zip_with(
        F.col("region_spans"),
        nested,
        lambda r, ws: F.when(
            F.size(ws) > 0,
            r.withField("start", F.element_at(ws, 1)["s"]).withField(
                "end", F.element_at(ws, -1)["e"]
            ),
        ).otherwise(r),
    )
    return df.withColumn("region_spans", new_spans)
