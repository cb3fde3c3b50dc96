"""The corpus_job and stream_job command lines, pinned without Spark.

Each argv vector must reach ``build_corpus`` / ``run_stream`` as one
exact keyword dict (bound against the real signature, so positional and
keyword passing compare equal), and every refused combination must exit
2 with an error line that names its flag. ``--help`` must work for every
job (argparse %-formats help strings, and a bare ``%`` once broke it).
"""

from __future__ import annotations

import argparse
import inspect
import os
import subprocess
import sys

import pytest

import jobs.corpus_job as corpus_job
import jobs.stream_job as stream_job

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOBS = ("compact_job", "corpus_job", "extract_job", "frontier_job",
        "linkgraph_job", "recrawl_job", "stream_job")


class _Session:
    def stop(self):
        pass


class _Query:
    def awaitTermination(self):
        pass


def _no_session(name):
    raise AssertionError("a refused command line must not start Spark")


def _call(monkeypatch, module, argv):
    """Run ``module.main()`` on ``argv``; return the arguments its body
    function received, by parameter name (``spark`` left out)."""
    fn_name = "build_corpus" if module is corpus_job else "run_stream"
    real = getattr(module, fn_name)
    session = _Session()
    calls = []

    def fake(*args, **kwargs):
        bound = inspect.signature(real).bind(*args, **kwargs).arguments
        assert bound.pop("spark") is session
        calls.append(bound)
        return _Query()

    monkeypatch.setattr(module, fn_name, fake)
    monkeypatch.setattr("ocrd_segment_spark.session.submit_session",
                        lambda name: session)
    monkeypatch.setattr(sys, "argv", [module.__file__, *argv])
    module.main()
    assert len(calls) == 1
    return calls[0]


def _parser(monkeypatch, module):
    """The ArgumentParser ``module.main()`` builds, caught at parse time."""
    seen = []

    class _Caught(Exception):
        pass

    def parse_args(self, *a, **kw):
        seen.append(self)
        raise _Caught

    monkeypatch.setattr(argparse.ArgumentParser, "parse_args", parse_args)
    with pytest.raises(_Caught):
        module.main()
    monkeypatch.undo()
    return seen[0]


def _option_strings(ap):
    flags = {s for a in ap._actions for s in a.option_strings}
    return flags - {"-h", "--help"}


SHARED_DEFAULTS = dict(
    input_path="in", output_path="out", input_format="pages",
    min_quality=0.5, min_tokens=5, langs=None, lang_margin=None,
    preserve_pre=False, gopher=False, quality_clf=False,
    script_screen=False, drop_soft404=False, honor_noai=False,
    entropy_min=None, lm_ref_path=None, lm_max_bits=None,
    max_compression=None, blocklist_path=None, sniff_charset=False,
    sniff_content_type=False, count_bpe=False, bpe_vocab_path=None,
    python_parallelism=None,
)
BATCH_DEFAULTS = dict(
    SHARED_DEFAULTS, stats_path=None, tables_path=None,
    image_pairs_path=None, card=False, host_priors=False,
    boilerplate_min_df=None, preserve_spans=False, redact_pii=False,
    decontaminate_path=None, near_dup_audit=None, snapshot_collapse=False,
    diff_prev_path=None, honor_meta=False, outlinks_path=None,
    feed_links_path=None, host_ranks_path=None, host_rank_min=None,
    shard_tokens=None, pack_seq_tokens=None,
)
STREAM_DEFAULTS = dict(
    SHARED_DEFAULTS, checkpoint="ck", honor_noindex=False,
    available_now=False,
)

SHARED_SET_ARGV = [
    "--input-format", "pages", "--min-quality", "0.25", "--min-tokens", "7",
    "--langs", "en,de", "--lang-margin", "0.1", "--preserve-pre",
    "--gopher", "--quality-clf", "--script-screen", "--drop-soft404",
    "--honor-noai", "--entropy-min", "2.5", "--lm-ref", "lm",
    "--lm-max-bits", "9.5", "--max-compression", "3.5", "--blocklist", "bl",
    "--sniff-charset", "--sniff-content-type", "--count-bpe",
    "--bpe-vocab", "voc.csv", "--python-parallelism", "4",
]
SHARED_SET = dict(
    input_path="in", output_path="out", input_format="pages",
    min_quality=0.25, min_tokens=7, langs=["en", "de"], lang_margin=0.1,
    preserve_pre=True, gopher=True, quality_clf=True, script_screen=True,
    drop_soft404=True, honor_noai=True, entropy_min=2.5, lm_ref_path="lm",
    lm_max_bits=9.5, max_compression=3.5, blocklist_path="bl",
    sniff_charset=True, sniff_content_type=True, count_bpe=True,
    bpe_vocab_path="voc.csv", python_parallelism=4,
)
BATCH_SET_ARGV = SHARED_SET_ARGV + [
    "--stats", "st", "--tables", "tb", "--image-pairs", "ip", "--card",
    "--host-priors", "--boilerplate-min-df", "3", "--preserve-spans",
    "--redact-pii", "--decontaminate", "dc", "--near-dup-audit", "nd",
    "--snapshot-collapse", "--diff-prev", "prev", "--honor-meta",
    "--outlinks", "ol", "--feed-links", "fl", "--host-ranks", "hr",
    "--host-rank-min", "0.2", "--shard-tokens", "1000",
    "--pack-sequences", "512",
]
BATCH_SET = dict(
    SHARED_SET, stats_path="st", tables_path="tb", image_pairs_path="ip",
    card=True, host_priors=True, boilerplate_min_df=3, preserve_spans=True,
    redact_pii=True, decontaminate_path="dc", near_dup_audit="nd",
    snapshot_collapse=True, diff_prev_path="prev", honor_meta=True,
    outlinks_path="ol", feed_links_path="fl", host_ranks_path="hr",
    host_rank_min=0.2, shard_tokens=1000, pack_seq_tokens=512,
)
STREAM_SET_ARGV = SHARED_SET_ARGV + ["--honor-noindex", "--available-now"]
STREAM_SET = dict(
    SHARED_SET, checkpoint="ck", honor_noindex=True, available_now=True
)

BATCH_IO = ["--input", "in", "--output", "out"]
STREAM_IO = ["--input", "in", "--output", "out", "--checkpoint", "ck"]


@pytest.mark.parametrize("argv, expected", [
    ([], BATCH_DEFAULTS),
    (BATCH_SET_ARGV, BATCH_SET),
    (["--langs", "en,de"], dict(BATCH_DEFAULTS, langs=["en", "de"])),
    (["--langs", ""], BATCH_DEFAULTS),
    (["--input-format", "pdf", "--langs", "en", "--blocklist", "bl",
      "--boilerplate-min-df", "2", "--preserve-spans", "--count-bpe",
      "--lm-ref", "lm", "--lm-max-bits", "8"],
     dict(BATCH_DEFAULTS, input_format="pdf", langs=["en"],
          blocklist_path="bl", boilerplate_min_df=2, preserve_spans=True,
          count_bpe=True, lm_ref_path="lm", lm_max_bits=8.0)),
], ids=["defaults", "every-flag", "langs", "langs-empty", "pdf"])
def test_corpus_job_keywords(monkeypatch, argv, expected):
    assert _call(monkeypatch, corpus_job, BATCH_IO + argv) == expected


@pytest.mark.parametrize("argv, expected", [
    ([], STREAM_DEFAULTS),
    (STREAM_SET_ARGV, STREAM_SET),
    (["--langs", "en,de"], dict(STREAM_DEFAULTS, langs=["en", "de"])),
    (["--langs", ""], STREAM_DEFAULTS),
    (["--input-format", "pdf", "--langs", "en", "--blocklist", "bl",
      "--count-bpe", "--quality-clf"],
     dict(STREAM_DEFAULTS, input_format="pdf", langs=["en"],
          blocklist_path="bl", count_bpe=True, quality_clf=True)),
], ids=["defaults", "every-flag", "langs", "langs-empty", "pdf"])
def test_stream_job_keywords(monkeypatch, argv, expected):
    assert _call(monkeypatch, stream_job, STREAM_IO + argv) == expected


@pytest.mark.parametrize("module, argv", [
    (corpus_job, BATCH_SET_ARGV), (stream_job, STREAM_SET_ARGV),
], ids=["corpus_job", "stream_job"])
def test_every_flag_vector_covers_the_parser(monkeypatch, module, argv):
    io = BATCH_IO if module is corpus_job else STREAM_IO
    given = {a for a in io + argv if a.startswith("--")}
    assert given == _option_strings(_parser(monkeypatch, module))


REFUSED = [
    (corpus_job, ["--lm-ref", "lm"], "--lm-ref"),
    (corpus_job, ["--lm-max-bits", "9"], "--lm-ref"),
    (corpus_job, ["--host-ranks", "hr"], "--host-ranks"),
    (corpus_job, ["--host-rank-min", "0.2"], "--host-ranks"),
    (corpus_job, ["--bpe-vocab", "v"], "--bpe-vocab"),
    (corpus_job, ["--preserve-spans"], "--preserve-spans"),
    (corpus_job, ["--shard-tokens", "0"], "--shard-tokens"),
    (corpus_job, ["--pack-sequences", "0"], "--pack-sequences"),
    (corpus_job, ["--honor-meta", "--input-format", "pdf"], "--honor-meta"),
    (corpus_job, ["--outlinks", "X", "--input-format", "pdf"], "--outlinks"),
    (corpus_job, ["--image-pairs", "X", "--input-format", "pdf"],
     "--image-pairs"),
    (corpus_job, ["--sniff-charset", "--input-format", "pdf"],
     "--sniff-charset"),
    (corpus_job, ["--snapshot-collapse", "--input-format", "pdf"],
     "--snapshot-collapse"),
    (stream_job, ["--lm-ref", "lm"], "--lm-ref"),
    (stream_job, ["--lm-max-bits", "9"], "--lm-ref"),
    (stream_job, ["--bpe-vocab", "v"], "--bpe-vocab"),
    (stream_job, ["--honor-noindex", "--input-format", "pdf"],
     "--honor-noindex"),
    (stream_job, ["--drop-soft404", "--input-format", "pdf"],
     "--drop-soft404"),
]


@pytest.mark.parametrize("module, argv, flag", REFUSED, ids=[
    f"{m.__name__.split('.')[-1]}:{' '.join(a)}" for m, a, _ in REFUSED
])
def test_refused_command_lines(monkeypatch, capsys, module, argv, flag):
    io = BATCH_IO if module is corpus_job else STREAM_IO
    monkeypatch.setattr("ocrd_segment_spark.session.submit_session",
                        _no_session)
    monkeypatch.setattr(sys, "argv", [module.__file__, *io, *argv])
    with pytest.raises(SystemExit) as e:
        module.main()
    assert e.value.code == 2
    line = capsys.readouterr().err.strip().splitlines()[-1]
    assert "error:" in line
    assert flag in line.split()


@pytest.mark.parametrize("job", JOBS)
def test_help_exits_zero(job):
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", f"{job}.py"), "--help"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr
    assert "--input" in r.stdout or "--output" in r.stdout
