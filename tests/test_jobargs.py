"""Drift guards for the shared corpus-job argument table
(ocrd_segment_spark/jobargs.py). No Spark session is started."""

from __future__ import annotations

import argparse
import ast
import glob
import inspect
import os

import pytest

import jobs.corpus_job as corpus_job
import jobs.stream_job as stream_job
from ocrd_segment_spark import jobargs
from ocrd_segment_spark.operators import bpe, corpus_filters, pre_gates

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHARED = [a for a in jobargs.parser("")._actions
          if a.option_strings and a.dest != "help"]


class _Stop(Exception):
    pass


class _Spark:
    class read:  # noqa: N801 - stands in for SparkSession.read
        @staticmethod
        def parquet(path):
            return object()


def _job_parser(monkeypatch, module) -> argparse.ArgumentParser:
    seen = []

    def parse_args(self, *a, **kw):
        seen.append(self)
        raise _Stop

    with monkeypatch.context() as m:
        m.setattr(argparse.ArgumentParser, "parse_args", parse_args)
        with pytest.raises(_Stop):
            module.main()
    return seen[0]


def _every_flag(ap: argparse.ArgumentParser) -> list[str]:
    """An argv that sets every option of ``ap`` to a legal value."""
    argv = []
    for a in ap._actions:
        if not a.option_strings or a.dest == "help":
            continue
        argv.append(a.option_strings[0])
        if a.nargs == 0:
            continue
        if a.choices:
            argv.append(a.choices[0])
        elif a.type in (int, float):
            argv.append("1")
        else:
            argv.append("x")
    return argv


def test_shared_dests_are_body_keywords():
    for fn in (corpus_job.build_corpus, stream_job.run_stream):
        params = inspect.signature(fn).parameters
        missing = [a.dest for a in SHARED if a.dest not in params]
        assert not missing, (fn.__name__, missing)


@pytest.mark.parametrize("module, fn", [
    (corpus_job, corpus_job.build_corpus), (stream_job, stream_job.run_stream),
], ids=["corpus_job", "stream_job"])
def test_job_dests_are_body_keywords(monkeypatch, module, fn):
    dests = {a.dest for a in _job_parser(monkeypatch, module)._actions
             if a.dest != "help"}
    assert dests <= set(inspect.signature(fn).parameters)


@pytest.mark.parametrize("module, body, streaming", [
    (corpus_job, corpus_job.build_corpus, False),
    (stream_job, stream_job.run_stream, True),
], ids=["corpus_job", "stream_job"])
def test_every_gate_reachable_from_the_parser(
    monkeypatch, module, body, streaming
):
    """With every flag set, the keyword values the job body hands the
    gate table turn on every gate the job may run."""
    ap = _job_parser(monkeypatch, module)
    kwargs = vars(ap.parse_args(_every_flag(ap)))
    real, seen = pre_gates.active_gates, []

    def capture(opts, streaming=False):
        seen.append(real(opts, streaming))
        raise _Stop

    monkeypatch.setattr(pre_gates, "active_gates", capture)
    # the stages that run before the gates read data; they are not
    # under test here
    monkeypatch.setattr(corpus_job, "SIDE_OUTPUTS", ())
    monkeypatch.setattr(corpus_filters, "reference_lm_table",
                        lambda *a: None)
    monkeypatch.setattr(bpe, "load_vocab", lambda *a: bpe.VOCAB)
    with pytest.raises(_Stop):
        body(_Spark(), **kwargs)
    expected = [g for g in pre_gates.GATES if g.streaming or not streaming]
    assert seen[0] == expected


def _add_argument_flags(path: str) -> set[str]:
    tree = ast.parse(open(path).read(), path)
    return {
        arg.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "add_argument"
        for arg in node.args
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str)
    }


def test_no_job_redefines_a_shared_flag():
    shared = {s for a in SHARED for s in a.option_strings}
    users = []
    for path in sorted(glob.glob(os.path.join(REPO, "jobs", "*.py"))):
        if "jobargs" not in open(path).read():
            continue
        users.append(os.path.basename(path))
        assert not _add_argument_flags(path) & shared, path
    assert users == ["corpus_job.py", "stream_job.py"]
