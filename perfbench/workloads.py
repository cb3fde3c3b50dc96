"""The benchmark's workloads: inputs, warm-up, one timed pass, the
output check, and the serialized layer ledger of the traced run.

Every layer is driven from outside through the engine's public
functions; nothing in the engine is patched on the Spark side.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import traceback

import pandas as pd
from pyspark.sql import Window, functions as F

from ocrd_segment_spark.pipeline import extract_pages, run_extract

from . import inputs, kernel_trace, meter, spec

# full-size / tiny (self-test) input sizes per workload
SIZES = {
    "fixture_extract": {"full": 4000, "tiny": 120},
    "longtail_extract": {"full": 600, "tiny": 40},
    "corpus_full": {"full": 800, "tiny": 150},
    "jvm_queries": {"full": 2000, "tiny": 200},
}
# quality stages of corpus_full: every stage on, as in bench.py's
# corpus_job_signals run
CORPUS_FILTERS = dict(
    min_quality=0.5, min_tokens=5, gopher=True, entropy_min=1.0,
    lm_max_bits=20.0, max_compression=0.995,
)
NEAR_DUP_JACCARD = 0.5  # the contract near-dup threshold (q_dedup_jaccard_verify)


def _digest_py(urls, texts) -> int:
    total = 0
    for u, t in zip(urls, texts):
        total += int(hashlib.md5(f"{u}\x01{t}".encode("utf-8")).hexdigest()[:12], 16)
    return total


def _digest_spark(df) -> tuple[int, int]:
    """(rows, order-independent digest of (url, extracted_text)):
    the sum of a 48-bit md5 prefix per row, so no sum can overflow."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws("\x01", "url", "extracted_text")), 1, 12), 16, 10
    ).cast("long")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def _echo(batches):
    for pdf in batches:
        yield pdf


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    """Run-wide state shared by the workload and the driver loop."""

    def __init__(self, spark, work: str, k: int, seed: int, scale: str):
        self.spark = spark
        self.work = work
        self.k = k
        self.seed = seed
        self.scale = scale
        self.pass_group = "pass"  # job group of the running pass

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)


class Workload:
    name = ""
    rss_from_jvm = False  # JVM-only workloads report the JVM's RSS
    # ledger layers whose CPU adds up to one pass (the rest are floors
    # inside them, or run beside the pass)
    pass_layers: tuple[str, ...] = ()

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_items = SIZES[self.name][ctx.scale]
        self.kernel_samples: list[dict] = []
        self.texts: list[str] = []

    # setup --------------------------------------------------------------
    def make_inputs(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def prepare_check(self, trace: bool) -> None:
        """Reference values for the output check (not part of setup)."""

    # timed pass ---------------------------------------------------------
    def run_pass(self, i: int) -> tuple[int, int]:
        """(operations attempted, operations failed)."""
        raise NotImplementedError

    def check_pass(self, i: int) -> int:
        """Number of failed output checks of pass ``i``."""
        raise NotImplementedError

    # traced run ---------------------------------------------------------
    def ledger(self) -> dict[str, dict]:
        """Serialized layer calls → {layer: {cpu_s, wall_s, ...}}."""
        return {}

    def _layer(self, out: dict, name: str, fn) -> None:
        self.ctx.group(f"layer.{name}")
        with meter.Meter(rss=False) as m:
            fn()
        out[name] = {"cpu_s": m.cpu_s, "wall_s": m.wall_s}
        # untimed hand-offs that follow must not count towards this layer
        self.ctx.group("ledger")


def _guarded(fn) -> int:
    """Run one timed operation; 1 if it raised (traceback to stderr)."""
    try:
        fn()
        return 0
    except Exception:  # a failed operation is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
        return 1


class ExtractWorkload(Workload):
    """The extract job: parquet scan → kernel (mapInPandas) → parquet
    write, via ``pipeline.run_extract``."""

    pass_layers = ("pipeline.extract", "write")

    def _pages(self) -> pd.DataFrame:
        raise NotImplementedError

    def make_inputs(self) -> None:
        self.pages = self._pages()
        self.input = inputs.write_parquet(
            self.pages, self.ctx.path("input", "pages"), 2 * self.ctx.k
        )

    def _extract(self, out: str) -> None:
        run_extract(
            self.ctx.spark, self.input, out, resume=False,
            python_parallelism=self.ctx.k,
        )

    def warm_up(self) -> None:
        out = self.ctx.path("out", "warmup")
        self._extract(out)
        shutil.rmtree(out, ignore_errors=True)

    def prepare_check(self, trace: bool) -> None:
        htmls = self.pages["html"].tolist()
        self.texts, self.kernel_samples = kernel_trace.timed_extract(htmls)
        self.ref = (len(htmls), _digest_py(self.pages["url"], self.texts))

    def run_pass(self, i: int) -> tuple[int, int]:
        return 1, _guarded(lambda: self._extract(self.ctx.path("out", f"p{i}")))

    def check_pass(self, i: int) -> int:
        out = self.ctx.path("out", f"p{i}")
        if not os.path.isdir(out):
            return 1
        got = _digest_spark(self.ctx.spark.read.parquet(out))
        shutil.rmtree(out, ignore_errors=True)
        return int(got != self.ref)

    def ledger(self) -> dict[str, dict]:
        spark, out = self.ctx.spark, {}
        pages = lambda: spark.read.parquet(self.input)  # noqa: E731
        _scan_and_passthrough(self, out, pages)
        self._layer(out, "pipeline.extract", lambda: _noop(
            extract_pages(pages(), python_parallelism=self.ctx.k)))
        dst = self.ctx.path("out", "ledger")
        self._layer(out, "write", lambda: self._extract(dst))
        out["write"]["bytes"] = meter.dir_bytes(dst)
        _minus(out, "write", "pipeline.extract")
        return out


def _lm_ref(ctx: Ctx) -> str:
    """The seeded reference documents of the per-language LM filter."""
    n = 800 if ctx.scale == "full" else 300
    return inputs.write_parquet(
        inputs.documents(n, ctx.seed + 1), ctx.path("input", "lm_ref"))


def _scan_and_passthrough(wl: Workload, out: dict, pages) -> None:
    wl._layer(out, "scan", lambda: pages().select("url", "html").agg(
        F.sum(F.length("html"))).collect())
    wl._layer(out, "pipeline.passthrough", lambda: _noop(
        pages().select("url", "html").mapInPandas(_echo, "url string, html binary")))


def _minus(out: dict, layer: str, base: str) -> None:
    """A layer measured together with its upstream: keep the difference."""
    out[layer]["cpu_s"] -= out[base]["cpu_s"]
    out[layer]["wall_s"] -= out[base]["wall_s"]
    out[layer]["minus"] = base


class FixtureExtract(ExtractWorkload):
    name = "fixture_extract"

    def _pages(self) -> pd.DataFrame:
        return inputs.fixture_pages(self.n_items, self.ctx.seed)

    def ledger(self) -> dict[str, dict]:
        """The extract layers, then ``build_corpus``'s later stages over
        the first pages (as many as ``corpus_full`` takes), so a traced
        run of this workload carries the corpus layers. The corpus stages
        run cold: the warm-up pass does not reach them, and an untimed
        warm run would not fit the 180 s a traced run may take."""
        out = super().ledger()
        src = inputs.write_parquet(  # untimed: the corpus stages' input
            self.pages.iloc[:SIZES["corpus_full"][self.ctx.scale]],
            self.ctx.path("input", "corpus_pages"), 2 * self.ctx.k)
        _corpus_ledger(self, out, src, _lm_ref(self.ctx), "corpus", False)
        return out


class LongtailExtract(ExtractWorkload):
    name = "longtail_extract"

    def _pages(self) -> pd.DataFrame:
        return inputs.longtail_pages(self.n_items, self.ctx.seed)

    def ledger(self) -> dict[str, dict]:
        """The extract layers, then the light queries of the suite (they
        share no data with the extract job)."""
        out = super().ledger()
        _query_ledger(self, out, LEDGER_QUERIES)
        return out


class CorpusFull(Workload):
    """``jobs.corpus_job.build_corpus`` with every quality stage, exact
    dedup, the corpus write and the near-dup audit."""

    name = "corpus_full"
    pass_layers = ("pipeline.extract", "filters", "dedup_exact", "write",
                   "audit.shingles", "audit.lsh", "audit.verify")

    def make_inputs(self) -> None:
        self.pages = inputs.fixture_pages(self.n_items, self.ctx.seed)
        self.input = inputs.write_parquet(
            self.pages, self.ctx.path("input", "pages"), 2 * self.ctx.k
        )
        self.lm_ref = _lm_ref(self.ctx)

    def _build(self, out: str) -> dict:
        from jobs.corpus_job import build_corpus

        return build_corpus(
            self.ctx.spark, self.input, os.path.join(out, "corpus"),
            near_dup_audit=os.path.join(out, "neardup"),
            lm_ref_path=self.lm_ref, python_parallelism=self.ctx.k,
            **CORPUS_FILTERS,
        )

    def _counts(self, out: str) -> tuple[int, int]:
        read = self.ctx.spark.read.parquet
        return (read(os.path.join(out, "corpus")).count(),
                read(os.path.join(out, "neardup")).count())

    def warm_up(self) -> None:
        out = self.ctx.path("out", "warmup")
        self.ref_funnel = self._build(out)
        self.ref_counts = self._counts(out)
        shutil.rmtree(out, ignore_errors=True)

    def prepare_check(self, trace: bool) -> None:
        if trace:
            self.texts, self.kernel_samples = kernel_trace.timed_extract(
                self.pages["html"].tolist()
            )

    def run_pass(self, i: int) -> tuple[int, int]:
        self.funnels = getattr(self, "funnels", {})

        def op():
            self.funnels[i] = self._build(self.ctx.path("out", f"p{i}"))

        return 1, _guarded(op)

    def check_pass(self, i: int) -> int:
        out = self.ctx.path("out", f"p{i}")
        if i not in self.funnels:
            return 1
        wrong = int(self.funnels.pop(i) != self.ref_funnel)
        wrong += int(self._counts(out) != self.ref_counts)
        shutil.rmtree(out, ignore_errors=True)
        return wrong

    def ledger(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        _scan_and_passthrough(self, out, lambda: self.ctx.spark.read.parquet(self.input))
        _corpus_ledger(self, out, self.input, self.lm_ref, "ledger")
        return out


def _corpus_ledger(wl: Workload, out: dict, src: str, lm_ref: str, name: str,
                   extract_and_write: bool = True) -> None:
    """``build_corpus``'s stages over the pages at ``src``, one layer at a
    time; layers hand data on through untimed parquet writes under
    ``name``. Without ``extract_and_write`` the extract (with langid) and
    the corpus write are untimed hand-offs too: the extract workloads
    time their own."""
    from ocrd_segment_spark.operators.corpus_filters import (
        KEEP_COLS, keep_all, with_keep_flags,
    )
    from ocrd_segment_spark.operators.dedup import (
        _shingle_table, jaccard_verify_pairs, minhash_lsh_candidates,
    )
    from ocrd_segment_spark.operators.textstats import (
        bigram_lm_models_by_lang, collect_lm_surprisal,
    )

    spark, k = wl.ctx.spark, wl.ctx.k
    read = spark.read.parquet
    p = lambda part: wl.ctx.path(name, part)  # noqa: E731

    extracted = lambda: extract_pages(  # noqa: E731
        read(src), python_parallelism=k, lang_id=True)
    if extract_and_write:
        wl._layer(out, "pipeline.extract", lambda: _noop(extracted()))
    extracted().write.parquet(p("extracted"))  # untimed hand-off

    def kept():
        lm = collect_lm_surprisal(bigram_lm_models_by_lang(read(lm_ref)))
        return with_keep_flags(
            read(p("extracted")), lm_table=lm, python_parallelism=k,
            **CORPUS_FILTERS,
        ).filter(keep_all())

    wl._layer(out, "filters", lambda: _noop(kept()))
    kept().write.parquet(p("kept"))  # untimed hand-off
    out["filters"]["kept_frac"] = read(p("kept")).count() / max(read(src).count(), 1)

    def deduped():
        w = Window.partitionBy(F.md5("extracted_text")).orderBy("url")
        return (
            read(p("kept")).withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1").drop("_rn", *KEEP_COLS)
        )

    wl._layer(out, "dedup_exact", lambda: _noop(deduped()))
    if extract_and_write:
        wl._layer(out, "write", lambda: deduped().write.parquet(p("corpus")))
        out["write"]["bytes"] = meter.dir_bytes(p("corpus"))
        _minus(out, "write", "dedup_exact")
    else:
        deduped().write.parquet(p("corpus"))  # untimed hand-off

    corpus = read(p("corpus"))
    sh = {}
    wl._layer(out, "audit.shingles", lambda: sh.setdefault("t", _shingle_table(
        corpus, "url", "extracted_text", 3).localCheckpoint(eager=True)))
    wl._layer(out, "audit.lsh", lambda: minhash_lsh_candidates(
        corpus, id_col="url", text_col="extracted_text", shingles=sh["t"],
    ).write.parquet(p("cands")))
    wl._layer(out, "audit.verify", lambda: jaccard_verify_pairs(
        corpus, read(p("cands")), id_col="url", text_col="extracted_text",
        shingles=sh["t"],
    ).write.parquet(p("verified")))
    n_cands = read(p("cands")).count()
    n_dup = read(p("verified")).filter(F.col("jaccard") >= NEAR_DUP_JACCARD).count()
    out["audit.lsh"]["candidates"] = n_cands
    out["audit"] = {"useful_frac": n_dup / n_cands if n_cands else 0.0}


def _redirect_resolve(spark, data_dir):
    """bench.py's redirect workload: one 4-hop chain per document."""
    from ocrd_segment_spark.operators.redirects import resolve_redirects

    d = spark.read.parquet(f"{data_dir}/documents.parquet")
    edges = d.selectExpr("doc_id", "explode(sequence(0, 3)) as i").selectExpr(
        "concat('https://h', cast(doc_id as string), '.org/r/', cast(i as string)) as src",
        "concat('https://h', cast(doc_id as string), '.org/r/', cast(i + 1 as string)) as dst",
    )
    return resolve_redirects(edges, max_hops=8)


def query_suite() -> dict:
    """JVM-only contract queries, one or two per operator module."""
    from ocrd_segment_spark import contract_graph as G
    from ocrd_segment_spark import contract_ml as M
    from ocrd_segment_spark import contract_web as WB

    return {
        "cms_heavy_hitters": WB.q_cms_heavy_hitters,      # sketches
        "hll_host_cardinality": WB.q_hll_host_cardinality,  # sketches
        "hits_scores": WB.q_hits_scores,                  # linkgraph
        "bpe_train_merges": G.q_bpe_train_merges,         # bpe
        "ann_cosine_topk": M.q_ann_cosine_topk,           # ann
        "pq_adc_topk": M.q_pq_adc_topk,                   # ann
        "redirect_resolve": _redirect_resolve,            # redirects
        "substring_dedup": M.q_dedup_exact_substring,     # dedup
    }


# The queries the longtail_extract ledger carries, about 20 s together.
# hits_scores, bpe_train_merges and substring_dedup take 10-25 s each,
# whatever the table size (iterations of small jobs), which a traced run
# under 180 s has no room for; only jvm_queries measures them.
LEDGER_QUERIES = ("cms_heavy_hitters", "hll_host_cardinality",
                  "ann_cosine_topk", "pq_adc_topk", "redirect_resolve")


def _query_tables(ctx: Ctx) -> str:
    """The seeded documents/embeddings tables the query suite reads."""
    d = ctx.path("input", "tables")
    if not os.path.isdir(d):
        os.makedirs(d)
        n = SIZES["jvm_queries"][ctx.scale]
        inputs.documents(n, ctx.seed).to_parquet(
            os.path.join(d, "documents.parquet"), index=False)
        inputs.embeddings(n // 2, ctx.seed).to_parquet(
            os.path.join(d, "embeddings.parquet"), index=False)
    return d


def _run_query(spark, fn, tables: str) -> tuple[int, int]:
    """(rows, sum of 32-bit xxhash64 per row) of one query's result."""
    df = fn(spark, tables)
    h = F.xxhash64(*df.columns).bitwiseAND(F.lit(0xFFFFFFFF))
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def _query_ledger(wl: Workload, out: dict, names=spec.QUERIES) -> None:
    """Each query once as a layer, on a JVM the workload's passes have
    warmed; the figure includes the query's planning and codegen."""
    spark, tables = wl.ctx.spark, _query_tables(wl.ctx)
    suite = query_suite()
    for q in names:
        wl._layer(out, f"query.{q}", lambda: _run_query(spark, suite[q], tables))


class JvmQueries(Workload):
    """The JVM-only query suite back to back; no Python stage."""

    name = "jvm_queries"
    rss_from_jvm = True
    pass_layers = tuple(f"query.{q}" for q in spec.QUERIES)

    def make_inputs(self) -> None:
        self.tables = _query_tables(self.ctx)
        self.suite = query_suite()

    def warm_up(self) -> None:
        self.ref = {q: _run_query(self.ctx.spark, fn, self.tables)
                    for q, fn in self.suite.items()}

    def run_pass(self, i: int) -> tuple[int, int]:
        self.results: dict[str, tuple] = {}
        failed = 0
        for q, fn in self.suite.items():
            failed += _guarded(lambda: self.results.__setitem__(
                q, _run_query(self.ctx.spark, fn, self.tables)))
        return len(self.suite), failed

    def check_pass(self, i: int) -> int:
        return sum(self.results.get(q) != ref for q, ref in self.ref.items())

    def ledger(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        _query_ledger(self, out)
        return out

WORKLOADS = {
    w.name: w for w in (FixtureExtract, LongtailExtract, CorpusFull, JvmQueries)
}
