"""Unicode NFC normalization — crawl-corpus hygiene.

Web crawls mix encodings and editors: the same visible text arrives
both precomposed (``é`` U+00E9) and decomposed (``e`` + U+0301), which
splinters every content-keyed operation downstream — exact dedup,
substring dedup windows, shingle sets, LM bigrams. Public practice
(C4/ftfy-adjacent cleanup) normalizes to NFC once, early.

Frozen semantics: NFC exactly as defined by Unicode (normalization is
STABILITY-GUARANTEED across Unicode versions for assigned code
points, which is what makes a cross-engine oracle possible at all):
the Spark side maps Python ``unicodedata.normalize('NFC', …)`` over
Arrow batches; the DuckDB oracle states ``nfc_normalize(…)``
(utf8proc) — both implement the same canonical composition.

Shape: one narrow pystage.map_rows pass (no SQL builtin exists in
Spark) behind the shared parallelism floor; zero shuffle.

Placement caveat: NFC changes character COUNTS (é as two code points
becomes one), so normalizing ``extracted_text`` in place would orphan
``region_spans`` offsets and break the byte-identity contract with the
extraction oracle. Apply it to content-keyed DERIVATIONS (dedup keys,
shingles, LM inputs) or to span-free text tables — never between
extraction and a span consumer. (The span-preserving cleanup pattern
in operators/paragraphs shows what a span-correct rewrite requires.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def with_nfc(
    df: DataFrame,
    text_col: str = "text",
    python_parallelism: int | None = None,
) -> DataFrame:
    """Append (text_nfc, nfc_changed): the NFC form and whether it
    differs from the input. NULL text yields '' (changed = false) —
    the repo's empty-document convention."""
    import unicodedata

    from pyspark.sql import types as T

    from ..pystage import map_rows

    def row(t):
        t = t if isinstance(t, str) else ""
        n = unicodedata.normalize("NFC", t)
        return n, n != t

    return map_rows(
        df, df.columns, (text_col,), row,
        [
            T.StructField("text_nfc", T.StringType(), False),
            T.StructField("nfc_changed", T.BooleanType(), False),
        ],
        python_parallelism,
    )


# ---------------------------------------------------------------------------
# typographic punctuation folding (span-safe by default)
# ---------------------------------------------------------------------------

# frozen 1:1 map — Windows-1252-style "smart" typography → ASCII. Kept
# strictly one-codepoint-to-one so the DEFAULT fold is LENGTH-
# preserving and therefore span-SAFE (unlike NFC, it may run between
# extraction and span consumers). Pairs: curly/low-9 single quotes and
# acute accent → ', curly/low-9 double quotes + guillemets → ", figure/
# en/em/horizontal-bar dashes + minus sign → -, NBSP + narrow NBSP +
# thin space → space, bullet → *.
PUNCT_FROM = (
    "\u2018\u2019\u201a\u201b\u00b4"  # single quotes + acute accent
    "\u201c\u201d\u201e\u00ab\u00bb"  # double quotes + guillemets
    "\u2012\u2013\u2014\u2015\u2212"  # figure/en/em/bar dashes + minus
    "\u00a0\u202f\u2009"  # nbsp, narrow nbsp, thin space
    "\u2022"  # bullet
)
PUNCT_TO = "'''''" + '"""""' + "-----" + "   " + "*"


def punct_fold_col(text_col: str = "text", ellipsis: bool = False):
    """Column: ``text_col`` with the frozen 1:1 typographic fold
    applied (``translate`` — one JVM pass, identical builtin in
    DuckDB). ``ellipsis=True`` additionally expands U+2026 to ``...``
    — a 1→3 rewrite that changes offsets, so it is OPT-IN and must
    not run on span-aligned text (the NFC placement caveat)."""
    from pyspark.sql import functions as F

    out = F.translate(F.col(text_col), PUNCT_FROM, PUNCT_TO)
    if ellipsis:
        out = F.replace(out, F.lit("…"), F.lit("..."))
    return out


def with_punct_fold(
    df: DataFrame, text_col: str = "text", ellipsis: bool = False
) -> DataFrame:
    """Append ``text_folded`` + ``punct_changed``. Pure column math —
    zero Python, zero shuffle, scan-stage."""
    from pyspark.sql import functions as F

    folded = punct_fold_col(text_col, ellipsis=ellipsis)
    return df.withColumn("text_folded", folded).withColumn(
        "punct_changed", F.col(text_col).eqNullSafe(F.col("text_folded")) == False  # noqa: E712
    )
