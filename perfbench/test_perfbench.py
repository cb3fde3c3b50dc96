"""The benchmark's own tests: tiny runs of every workload pin the output
schema and metric names. Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import spec
from perfbench.workloads import LEDGER_QUERIES, WORKLOADS, query_suite

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def _run(args, cwd=ROOT, timeout=400):
    return subprocess.run(
        [sys.executable, RUN, *args], cwd=cwd, capture_output=True, text=True,
        timeout=timeout,
    )


def _processes_naming(text: str) -> list[int]:
    """Live processes whose command line contains ``text``."""
    pids = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                if text.encode() in f.read():
                    pids.append(int(d))
        except (OSError, ValueError):
            continue
    return pids


def _result(workload: str, trace: int) -> dict:
    p = subprocess.Popen(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    out, err = p.communicate(timeout=400)
    assert p.returncode == 0, err[-3000:]
    # the JVM's command line names the run's work directory
    assert _processes_naming(f".perfbench_work/run-{p.pid}/") == []
    return json.loads(out.strip().splitlines()[-1])


def _check_schema(res: dict, expected: dict[str, str]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(expected)
    for name, m in res["metrics"].items():
        assert set(m) == {"value", "unit"}
        assert m["unit"] == expected[name]
        assert isinstance(m["value"], float) and math.isfinite(m["value"])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_schema(workload):
    res = _result(workload, 0)
    _check_schema(res, {n: u for n, u, *_ in spec.END_TO_END})
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_schema(workload):
    res = _result(workload, 1)
    _check_schema(res, {n: u for n, u, *_ in spec.PER_LAYER})
    val = {n: m["value"] for n, m in res["metrics"].items()}
    assert val["trace.untraced_cpu_s"] > 0 and val["trace.traced_cpu_s"] > 0
    if workload != "jvm_queries":
        assert val["kernel.extract_us.p50"] > 0
        assert val["pipeline.extract.cpu_s"] > 0
    if workload in ("corpus_full", "fixture_extract"):
        assert val["filters.cpu_s"] > 0 and val["audit.verify.cpu_s"] > 0
        assert val["langid.score_us.p50"] > 0
    queries = {"jvm_queries": spec.QUERIES, "longtail_extract": LEDGER_QUERIES}
    assert all(val[f"query.{q}.wall_s"] > 0 for q in queries.get(workload, ()))


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lists = spec.benchmark_lists()
    assert bench["end_to_end"] == lists["end_to_end"]
    assert bench["per_layer"] == lists["per_layer"]
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert tuple(query_suite()) == spec.QUERIES


def test_exits_nonzero_without_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_full",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
