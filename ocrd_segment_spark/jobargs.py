"""The command-line flags of the two corpus jobs, defined ONCE.

jobs/corpus_job.py (batch) and jobs/stream_job.py (streaming) build
their parser with :func:`parser`, add only their own flags, and read it
with :func:`parse`, which also runs the checks both jobs make. Every
``dest`` is the keyword ``build_corpus`` / ``run_stream`` takes
(``--lm-ref`` → ``lm_ref_path``), so a job hands the parsed namespace
over whole: ``build_corpus(spark, **vars(args))``. The reference parses
processor parameters the same way: declared once, validated by one
wrapper for every CLI (``ocrd_cli_wrap_processor``, cli.py:18-21). The
``pre_gates`` and ``corpus_filters`` tables are the precedent: copies
hand-mirrored in both jobs are how the stream fell a round behind.

The module lives in the package so that ``tools/package.py`` ships it
to spark-submit with the engine.
"""

from __future__ import annotations

import argparse

from .operators.pre_gates import GATES, is_set


def _langs(value: str) -> list[str] | None:
    # an empty list keeps every language, like the default
    return value.split(",") if value else None


def parser(description: str) -> argparse.ArgumentParser:
    """An ArgumentParser holding the flags both corpus jobs take."""
    ap = argparse.ArgumentParser(description=description)
    add = ap.add_argument
    add("--input", dest="input_path", required=True)
    add("--output", dest="output_path", required=True)
    add("--input-format", choices=("pages", "pdf"), default="pages",
        help="'pages' = canonical (url, html) parquet through the kernel;"
        " 'pdf' = (url, data) PDF blobs through the frozen text-subset"
        " parser (sources/pdf); every downstream filter stage is shared")
    add("--min-quality", type=float, default=0.5)
    add("--min-tokens", type=int, default=5)
    add("--langs", type=_langs, default=None,
        help="comma list; default: keep all")
    add("--lang-margin", type=float, default=None,
        help="per-char top-2 log-likelihood gap below which language id"
        " abstains to 'und' (langid frozen step 6; suggested:"
        " operators/langid.DEFAULT_MARGIN=0.1). Off by default: the"
        " pure-argmax behavior of earlier rounds")
    add("--preserve-pre", action="store_true",
        help="extract <pre> subtrees with VERBATIM whitespace (kernel"
        " 1.6.0 params.preserve_pre): code blocks keep indentation and"
        " blank lines instead of the collapse-and-join rule")
    add("--gopher", action="store_true",
        help="apply the Gopher-style repetition/quality rules"
        " (operators/textstats.gopher_filter defaults) as a drop stage")
    add("--entropy-min", type=float, default=None,
        help="drop documents whose character entropy (bits) is below"
        " this: the degenerate-text signal (keyboard mash, fills)")
    add("--lm-ref", dest="lm_ref_path", default=None,
        help="parquet of trusted reference documents (text, lang) to"
        " train per-language char-bigram LMs from (CCNet-style), loaded"
        " once before any document is scored; requires --lm-max-bits")
    add("--lm-max-bits", type=float, default=None,
        help="drop documents scoring above this bits-per-bigram under"
        " their predicted language's reference LM; docs with no"
        " evidence (sub-2-char, unmodeled lang) are KEPT")
    add("--max-compression", type=float, default=None,
        help="drop documents whose zlib compression ratio exceeds this"
        " (already-compressed/binary junk; Dolma-style signal)")
    add("--blocklist", dest="blocklist_path", default=None,
        help="parquet of blocked registered domains (column: domain);"
        " pages whose url's registered domain matches are dropped"
        " before extraction even runs (C4-style exclusion; a broadcast"
        " join, stream-static in the stream job)")
    add("--count-bpe", action="store_true",
        help="meter the corpus in SUBWORD tokens (operators/bpe greedy"
        " longest-match): adds n_bpe_tokens/n_unk_pieces columns (and"
        " the batch job's kept_bpe_tokens funnel total); pipelines"
        " budget compute in tokenizer tokens, not whitespace words")
    add("--bpe-vocab", dest="bpe_vocab_path", default=None,
        help="piece table (parquet, or .csv with header; column:"
        " piece) to meter --count-bpe in a REAL tokenizer's vocabulary"
        " instead of the committed toy (operators/bpe.load_vocab:"
        " model-sized collect, case-folded, deduped, loaded once)")
    add("--quality-clf", action="store_true",
        help="learned keep/drop stage (operators/quality_clf hashed"
        " bag-of-tokens logistic model): docs whose round-6 logit is"
        " negative drop; zero-token docs are kept (no evidence); adds"
        " the clf_logit audit column (and the dropped_clf funnel count)")
    add("--honor-noai", action="store_true",
        help="honor the noai/noimageai robots-meta opt-out"
        " (operators/headmeta.with_ai_optout): noai pages drop before"
        " extraction (dropped_noai funnel count); with the batch job's"
        " --image-pairs, noimageai pages are excluded from the pair"
        " harvest")
    add("--drop-soft404", action="store_true",
        help="pre-extraction soft-404 screen (operators/softerrors"
        ".soft404_page_stage): pages whose harvested <title> carries an"
        " error phrase, or whose tag-stripped head is tiny AND carries"
        " one, drop before paying kernel time (dropped_soft404 funnel"
        " count)")
    add("--script-screen", action="store_true",
        help="drop mixed-script documents (operators/scriptmix: no"
        " script holds 95%% of the letters, 20-letter floor; SEO"
        " cloaking / homoglyph spam / wrong-decode signal); adds the"
        " main_script + main_fraction audit columns (and the"
        " dropped_script funnel count)")
    add("--sniff-charset", action="store_true",
        help="charset-repair pre-stage: decode legacy/BOM pages to clean"
        " utf-8 before any html-reading stage (functions/charset)")
    add("--sniff-content-type", action="store_true",
        help="drop non-html fetch bodies by magic bytes BEFORE"
        " extraction (functions/multimodal.with_content_type): pdfs,"
        " images and archives mislabeled as pages never pay kernel"
        " time; runs AFTER --sniff-charset when both are on, so"
        " utf-16 html is decoded before it is classified")
    add("--python-parallelism", type=int, default=None)
    return ap


def refuse_html_on_pdf(
    ap: argparse.ArgumentParser, args: argparse.Namespace,
    extra: tuple[str, ...] = (),
) -> None:
    """``ap.error`` when ``--input-format pdf`` is combined with a gate
    that reads html pages, or with one of the ``extra`` job options
    (dests) that do: pdf blobs have no html to read. The error names
    the flag as the parser spells it."""
    if args.input_format != "pdf":
        return
    flag = {a.dest: a.option_strings[0] for a in ap._actions}
    html_opts = [k for g in GATES if g.reads_html for k in g.options]
    for dest in (*html_opts, *extra):
        if is_set(getattr(args, dest, None)):
            ap.error(f"{flag[dest]} reads html pages and cannot run on"
                     " --input-format pdf")


def parse(
    ap: argparse.ArgumentParser, html_only: tuple[str, ...] = ()
) -> argparse.Namespace:
    """``ap.parse_args()`` plus the checks both jobs make; a refused
    combination exits 2 through ``ap.error``. ``html_only`` lists the
    job's own options (dests) that read html pages."""
    args = ap.parse_args()
    refuse_html_on_pdf(ap, args, html_only)
    if args.bpe_vocab_path is not None and not args.count_bpe:
        ap.error("--bpe-vocab requires --count-bpe"
                 " (a vocabulary with no metering stage does nothing)")
    if (args.lm_ref_path is None) != (args.lm_max_bits is None):
        ap.error("--lm-ref and --lm-max-bits must be given together"
                 " (one alone would silently skip the LM filter stage)")
    return args
