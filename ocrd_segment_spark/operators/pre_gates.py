"""The pre-extraction gates of the corpus jobs, defined ONCE.

jobs/corpus_job.py (batch) and jobs/stream_job.py (streaming) run the
same cheap filters BEFORE the Python extraction kernel, so rejected
pages never pay kernel time — the placement "Optimizing UDF Queries in
SQL Data Engines" (EDBT 2026) argues for ahead of an opaque UDF.
``GATES`` is the single ordered table both jobs walk with
:func:`apply_gates`, so their gate semantics cannot drift apart (the
``corpus_filters`` precedent for the quality stages).

Every gate has one shape: ``build`` appends flag column(s) (never
drops rows), ``keep`` is the row predicate over them, ``drop`` lists
the helper columns removed after the filter. The stream job filters
after each gate. The batch job passes ``observe=True``: no gate filters
then; each keep predicate is folded into a running pass flag, the
window gates rank the pages that passed every earlier gate ahead of the
rest (so the same capture wins as under filtering), and ONE Observation
after the last gate counts each gate's drops over the pages that passed
every earlier gate, riding the job's terminal write. Counting inside
the chain would put a count below a window's shuffle, and adaptive
execution drops an emptied shuffle stage from the final plan together
with every count observed in it. A dropped page's body (each binary
column) turns NULL at the gate that drops it, so the later gates'
sniffs and regexes and the window shuffles do not pay for its bytes.

``GATES`` order is frozen (each gate drops or ranks only the survivors
of the earlier ones): the url-only blocklist first; charset repair before
every html-reading gate (utf-16 html must decode before it is
classified); noindex BEFORE the canonical window (a noindex alias must
never win its group); soft-404 last. Host rank, snapshot collapse and
canonical alias are batch-only: the first joins a crawl-scale rank
table, the other two rank rows in a non-time window, which an
unbounded stream cannot do. The batch job's ``honor_meta`` turns on
both the noindex and the canonical-alias gate, the stream job's
``honor_noindex`` only the first. Gates that read html are refused on
``--input-format pdf`` (``jobargs.refuse_html_on_pdf``).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, functions as F, types as T

from ..functions.charset import reencode_non_utf8
from ..functions.multimodal import with_content_type
from ..functions.urls import host_of, latest_snapshot, with_domain_blocked
from .headmeta import canonical_representatives, head_meta, with_ai_optout
from .softerrors import soft404_page_stage

# the running conjunction of the keep predicates so far (batch only:
# the stream filters after each gate, so there it stays true)
PASSED = "__gates_passed"


@dataclass(frozen=True)
class Gate:
    key: str | None  # funnel count; None = a repair stage that drops nothing
    options: tuple[str, ...]  # job keywords that must ALL be set to run it
    reads_html: bool  # refused on --input-format pdf
    streaming: bool  # legal in the stream job
    build: Callable[[DataFrame, Mapping], DataFrame]  # appends flag cols
    keep: Callable[[Mapping], Column] | None  # row predicate over them
    drop: tuple[str, ...]  # helper columns removed after the filter
    # columns of the PREVIOUS gate this one reads: their drop is
    # deferred to after this gate (one head_meta harvest serves both
    # the noindex and the canonical-alias gate)
    needs: tuple[str, ...] = ()


def is_set(value) -> bool:
    """A job keyword turns its stage on when it is not None/False
    (``0.0`` thresholds and empty paths count as set)."""
    return value is not None and value is not False


def _host_rank(df, o):
    # plain equi-join on the page host: AQE broadcasts a small rank
    # table and falls back to a shuffle join at crawl scale
    ranks = df.sparkSession.read.parquet(o["host_ranks_path"]).select(
        F.col("node").alias("__hr_host"), F.col("rank").alias("__host_rank")
    )
    return df.withColumn("__host", host_of("url")).join(
        ranks, F.col("__host") == F.col("__hr_host"), "left"
    )


_META = ("canonical_href", "canonical_url", "robots", "noindex")

# Gate(key, options, reads_html, streaming, build=, keep=, drop=), in
# the frozen order
GATES = (
    # the static blocklist is read once when the plan is built; each
    # (micro)batch then does a broadcast join
    Gate("dropped_domain", ("blocklist_path",), False, True,
         build=lambda df, o: with_domain_blocked(
             df, df.sparkSession.read.parquet(o["blocklist_path"])),
         keep=lambda o: ~F.col("blocked"), drop=("blocked", "reg_domain")),
    # only the legacy/BOM tail pays the Python decode
    Gate(None, ("sniff_charset",), True, True,
         build=lambda df, o: reencode_non_utf8(
             df, python_parallelism=o.get("python_parallelism")),
         keep=None, drop=("charset", "charset_source")),
    Gate("dropped_content_type", ("sniff_content_type",), True, True,
         build=lambda df, o: with_content_type(df, blob_col="html"),
         keep=lambda o: F.col("content_type") == "text/html",
         drop=("content_type",)),
    # unranked hosts are KEPT: no link evidence is not bad evidence
    Gate("dropped_host_rank", ("host_ranks_path", "host_rank_min"),
         False, False, build=_host_rank,
         keep=lambda o: F.col("__host_rank").isNull()
         | (F.col("__host_rank") >= o["host_rank_min"]),
         drop=("__host", "__hr_host", "__host_rank")),
    Gate("dropped_stale_snapshot", ("snapshot_collapse",), True, False,
         build=lambda df, o: latest_snapshot(
             df, flag_col="is_latest", rank_first=PASSED),
         keep=lambda o: F.col("is_latest"),
         drop=("is_latest", "canonical_url")),
    Gate("dropped_noindex", ("honor_noindex",), True, True,
         build=lambda df, o: head_meta(df),
         keep=lambda o: ~F.col("noindex"), drop=_META),
    # always preceded by the noindex gate (both are honor_meta), whose
    # head_meta harvest it reuses
    Gate("dropped_canonical_alias", ("honor_meta",), True, False,
         build=lambda df, o: canonical_representatives(
             df, flag_col="__canon_rep", meta_precomputed=True,
             rank_first=PASSED),
         keep=lambda o: F.col("__canon_rep"), drop=("__canon_rep",),
         needs=_META),
    Gate("dropped_noai", ("honor_noai",), True, True,
         build=lambda df, o: with_ai_optout(df),
         keep=lambda o: ~F.col("ai_optout"),
         drop=("ai_optout", "image_ai_optout")),
    Gate("dropped_soft404", ("drop_soft404",), True, True,
         build=lambda df, o: soft404_page_stage(df),
         keep=lambda o: ~F.col("is_soft404"), drop=("is_soft404",)),
)


def active_gates(opts: Mapping, streaming: bool = False) -> list[Gate]:
    """The gates ``opts`` (a job's keyword values) turn on, in order."""
    return [
        g for g in GATES
        if (g.streaming or not streaming)
        and all(is_set(opts.get(k)) for k in g.options)
    ]


def apply_gates(
    pages: DataFrame, gates: list[Gate], opts: Mapping, observe: bool = False
) -> tuple[DataFrame, Observation | None]:
    """Run ``gates`` over ``pages``. Returns the surviving pages (input
    schema) and, with ``observe=True``, one Observation whose metric
    named by each gate's funnel key counts the rows that gate removed:
    the rows that passed every earlier gate and that its keep predicate
    does not hold for, NULL included. The Observation is None when no
    gate can drop a row. Observed, a dropped row runs on through the
    later gates with its binary columns NULL."""
    keys = []
    carried: tuple[str, ...] = ()
    bodies = [f.name for f in pages.schema.fields
              if isinstance(f.dataType, T.BinaryType)]
    pages = pages.withColumn(PASSED, F.lit(True))
    for g, nxt in zip(gates, (*gates[1:], None)):
        flagged = g.build(pages, opts)
        if g.keep is not None:
            keep = F.coalesce(g.keep(opts), F.lit(False))
            if observe:
                keys.append(g.key)
                flagged = flagged.withColumn(
                    f"__{g.key}", F.col(PASSED) & ~keep
                ).withColumn(PASSED, F.col(PASSED) & keep).withColumns(
                    {c: F.when(F.col(PASSED), F.col(c)) for c in bodies}
                )
            else:
                flagged = flagged.filter(keep)
        helpers = (*carried, *g.drop)
        needs = nxt.needs if nxt is not None else ()
        carried = tuple(c for c in helpers if c in needs)
        pages = flagged.drop(*(c for c in helpers if c not in needs))
    observation = None
    if keys:
        observation = Observation("gates")
        pages = pages.observe(observation, *(
            F.coalesce(F.sum(F.col(f"__{k}").cast("long")), F.lit(0)).alias(k)
            for k in keys
        )).filter(PASSED)
    return pages.drop(PASSED, *(f"__{k}" for k in keys)), observation
