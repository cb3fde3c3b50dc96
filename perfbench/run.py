"""Benchmark of the ocrd_segment_spark engine.

    python3 perfbench/run.py --workload longtail_extract --seed 1 \\
        --seconds 10 --trace 0

One process drives one workload on ``local[k]`` (k = the CPUs this
process may use, at most 8). It sets up (session, seeded inputs, an
untimed warm-up pass), then times passes until ``--seconds`` of pass
time are spent (at least three), checking every pass's output. It
prints a readable report and, as the last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` times the
kernel in-process, runs untraced passes, then restarts the Spark
context with the event log on for traced passes and the serialized
layer ledger, and reports the per-layer metrics, including tracing
overhead (traced minus untraced). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PASSES = 3
MAX_PASSES = 50
TRACED_PASSES = 2


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cores() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 8))


def _driver_memory_mb() -> int:
    """An eighth of the box's RAM, between 1 and 4 GB."""
    total_kb = 8 * 1024 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(1024, min(4096, total_kb // 1024 // 8))


def start_session(work: str, k: int, event_dir: str | None = None):
    from ocrd_segment_spark.session import build_session

    extra = {
        "spark.driver.memory": f"{_driver_memory_mb()}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only: the JIT settles within the warm-up, and its compiler
        # threads stop adding CPU to the timed passes
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:TieredStopAtLevel=1"),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = build_session("perfbench", master=f"local[{k}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Passes:
    """Timed passes of one workload, with their output checks."""

    def __init__(self):
        self.meters = []
        self.attempted = self.failed = self.wrong = 0

    def run(self, ctx, wl, seconds: float, min_passes: int, max_passes: int,
            group: str = "pass") -> "Passes":
        from perfbench import meter

        jvm_pid = ctx.spark.sparkContext._gateway.proc.pid if wl.rss_from_jvm else None
        ctx.pass_group = group
        spent = 0.0
        while len(self.meters) < min_passes or (
            spent < seconds and len(self.meters) < max_passes
        ):
            i = len(self.meters)
            ctx.spark._jvm.System.gc()
            ctx.group(group)
            with meter.Meter(jvm_pid=jvm_pid) as m:
                a, f = wl.run_pass(i)
            self.attempted += a
            self.failed += f
            self.wrong += wl.check_pass(i)
            self.meters.append(m)
            spent += m.wall_s
        return self

    def median(self, attr: str) -> float:
        from perfbench import meter

        return meter.median(getattr(m, attr) for m in self.meters)


def _report(title: str, rows, notes) -> None:
    print(f"== perfbench {title}")
    for name, value, unit, n in rows:
        print(f"  {name:<44} {value:>16.6g} {unit:<6} n={n}")
    for note in notes:
        print(f"  # {note}")


def run(args, work: str) -> dict:
    from perfbench import meter, spec
    from perfbench.workloads import WORKLOADS, Ctx

    k = _cores()
    t0 = time.perf_counter()
    spark = start_session(work, k)
    session_s = time.perf_counter() - t0
    ctx = Ctx(spark, work, k, args.seed, args.scale)
    wl = WORKLOADS[args.workload](ctx)
    t = time.perf_counter()
    wl.make_inputs()
    inputs_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.warm_up()
    warmup_s = time.perf_counter() - t
    setup_s = session_s + inputs_s + warmup_s
    t = time.perf_counter()
    wl.prepare_check(bool(args.trace))
    check_ref_s = time.perf_counter() - t

    if args.trace:
        metrics, notes, blocks = _traced(ctx, wl)
    else:
        p = Passes().run(ctx, wl, args.seconds, MIN_PASSES, MAX_PASSES)
        n = len(p.meters)
        metrics = {
            "setup_s": (setup_s, 1),
            "wall_s": (p.median("wall_s"), n),
            "pages_per_s": (meter.median(wl.n_items / m.wall_s for m in p.meters), n),
            "cpu_s": (p.median("cpu_s"), n),
            "peak_worker_rss_mb": (p.median("peak_rss_mb"), n),
        }
        notes, blocks = [], [p]
        ctx.spark.stop()
    attempted = sum(b.attempted for b in blocks)
    failed = sum(b.failed for b in blocks)
    wrong = sum(b.wrong for b in blocks)
    meters = [m for b in blocks for m in b.meters]
    notes = [
        f"workload={args.workload} seed={args.seed} scale={args.scale} "
        f"local[{k}] driver_memory={_driver_memory_mb()}m items={wl.n_items}",
        f"setup = session {session_s:.2f} s + inputs {inputs_s:.2f} s + "
        f"warm-up {warmup_s:.2f} s; "
        f"reference for checks {check_ref_s:.2f} s",
        "per pass: wall " + " ".join(f"{m.wall_s:.2f}" for m in meters)
        + " s; cpu " + " ".join(f"{m.cpu_s:.1f}" for m in meters) + " s",
        "co-tenant cores per pass: " + " ".join(
            "n/a" if m.ext_cores is None else f"{m.ext_cores:.1f}" for m in meters),
        f"failed_ops_frac = {failed / max(attempted, 1):.4g} "
        f"({failed} of {attempted} operations)",
        f"wrong_outputs = {wrong} (output checks over {len(meters)} passes)",
    ] + notes

    _report(f"{args.workload} trace={args.trace}",
            [(name, v, spec.UNITS[name], cnt) for name, (v, cnt) in metrics.items()],
            notes)
    report_only = {name for name, _ in spec.REPORT_ONLY}
    return {
        "correct": wrong == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(v), "unit": spec.UNITS[name]}
            for name, (v, _) in metrics.items() if name not in report_only
        },
    }


def _restart(ctx, event_dir: str | None) -> None:
    ctx.spark.stop()
    ctx.spark = start_session(ctx.work, ctx.k, event_dir)


def _traced(ctx, wl):
    """Per-layer metrics. In-process kernel timing first, then untraced
    passes in the setup's context. The context then restarts with the
    event log on; a restarted context respawns its Python workers, so
    one untimed pass runs before the traced passes and the serialized
    layer ledger."""
    from perfbench import kernel_trace, meter, spec

    phases, t = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t
        phases[name] = time.perf_counter() - t
        t = time.perf_counter()

    m = {name: (0.0, 0) for name, *_ in spec.PER_LAYER}
    if wl.kernel_samples:
        ns = len(wl.kernel_samples)
        for name, v in kernel_trace.kernel_metrics(wl.kernel_samples).items():
            m[name] = (v, ns)
    if wl.name == "longtail_extract":
        # the shape grid does not depend on the workload's pages: it
        # runs once, on the workload where the kernel dominates the pass
        for name, v in kernel_trace.grid_metrics().items():
            m[name] = (v, 1)
    if wl.name in ("corpus_full", "fixture_extract"):  # the corpus layers
        for name, v in kernel_trace.langid_metrics(wl.texts).items():
            m[name] = (v, len(wl.texts))
    phase("kernel")

    untraced = Passes().run(ctx, wl, 0.0, TRACED_PASSES, TRACED_PASSES)
    phase("untraced")
    event_dir = ctx.path("events")
    _restart(ctx, event_dir)
    phase("restart")
    rewarm = Passes().run(ctx, wl, 0.0, 1, 1, group="rewarm")
    phase("rewarm")
    traced = Passes().run(ctx, wl, 0.0, TRACED_PASSES, TRACED_PASSES)
    phase("traced")
    ledger = wl.ledger()
    phase("ledger")
    ctx.spark.stop()
    groups = meter.fold_event_log(event_dir)
    n_tr, n_un = len(traced.meters), len(untraced.meters)

    un_wall, un_cpu = untraced.median("wall_s"), untraced.median("cpu_s")
    tr_wall, tr_cpu = traced.median("wall_s"), traced.median("cpu_s")
    m.update({
        "trace.untraced_wall_s": (un_wall, n_un),
        "trace.untraced_cpu_s": (un_cpu, n_un),
        "trace.traced_wall_s": (tr_wall, n_tr),
        "trace.traced_cpu_s": (tr_cpu, n_tr),
        "trace.overhead_wall_s": (tr_wall - un_wall, n_tr),
        "trace.overhead_cpu_s": (tr_cpu - un_cpu, n_tr),
    })

    for layer, d in ledger.items():
        g = groups.get(f"layer.{layer}", {})
        vals = dict(d, shuffle_write_bytes=g.get("shuffle_write_bytes", 0),
                    jvm_cpu_s=g.get("jvm_cpu_s", 0.0))
        if "minus" in d:
            vals["jvm_cpu_s"] -= groups.get(f"layer.{d['minus']}", {}).get("jvm_cpu_s", 0.0)
        for key, v in vals.items():
            if f"{layer}.{key}" in m:
                m[f"{layer}.{key}"] = (v, 1)

    tot = groups.get("pass", {})
    for key in ("jvm_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "failed_tasks"):
        m[f"spark.{key}"] = (tot.get(key, 0) / max(n_tr, 1), n_tr)
    m["spark.task_p50_s"] = (tot.get("task_p50_s", 0.0), tot.get("tasks", 0))
    m["spark.task_max_s"] = (tot.get("task_max_s", 0.0), tot.get("tasks", 0))

    layers_cpu = sum(ledger[l]["cpu_s"] for l in wl.pass_layers if l in ledger)
    m["ledger.layers_cpu_s"] = (layers_cpu, 1)
    m["ledger.unattributed_cpu_s"] = (un_cpu - layers_cpu, 1)

    notes = [
        f"ledger: layers {layers_cpu:.2f} CPU-s of the untraced pass's "
        f"{un_cpu:.2f} CPU-s; unattributed {un_cpu - layers_cpu:+.2f} CPU-s; "
        f"tracing overhead {tr_cpu - un_cpu:+.2f} CPU-s, {tr_wall - un_wall:+.2f} s wall",
        "event-log JVM CPU of the traced pass: "
        f"{m['spark.jvm_cpu_s'][0]:.2f} s (Python workers are not in it)",
        "traced run phases (wall s): " + " ".join(f"{k} {v:.1f}" for k, v in phases.items()),
    ]
    return m, notes, [untraced, rewarm, traced]


def _become_subreaper() -> None:
    """Have orphaned descendants (Python workers whose JVM ended first)
    re-parented to this process, so _stop_processes finds and reaps them."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _descendants() -> list[int]:
    """Every live or unreaped descendant of this process, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_processes(grace_s: float = 20.0, limit_s: float = 60.0) -> bool:
    """Stop the Spark context and its JVM, then every other process this
    one started, and wait until each has ended. The JVM ends by itself
    once its stdin closes; left alone it would outlive this process."""
    try:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(grace_s)
    except (ImportError, subprocess.TimeoutExpired):
        pass
    except Exception as e:  # a failed stop must not skip the kills below
        print(f"perfbench: stopping Spark: {e!r}", file=sys.stderr)
    t0 = time.monotonic()
    while True:
        _reap()
        pids = _descendants()
        if not pids:
            return True
        waited = time.monotonic() - t0
        if waited > limit_s:
            print(f"perfbench: processes {pids} did not end", file=sys.stderr)
            return False
        sig = signal.SIGTERM if waited < grace_s else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    for rel in ("ocrd_segment_spark/__init__.py", "jobs/corpus_job.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            _die(f"engine source {rel} not found under {ROOT}")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        _die("pyspark is not importable")

    sys.path.insert(0, ROOT)
    from perfbench import meter
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _die(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if not meter.cpu_counter_available():
        _die("no cgroup CPU counter (cpuacct.usage or cpu.stat)")

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    _become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, work)
    finally:
        stopped = _stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    if not stopped:
        return 1
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
