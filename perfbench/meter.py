"""Measurement primitives: container CPU, worker memory, co-tenant load,
and the Spark event-log fold.

CPU comes from the container's cgroup, not from Spark. In local mode the
event log's ``Executor CPU Time`` counts only JVM task threads: the
pyspark Python workers that run the kernel, langid and every
``mapInPandas`` stage are separate processes and are missing from it.
The cgroup counter includes them, so it is the only CPU figure that a
per-layer ledger can sum to.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

_CG_V1 = "/sys/fs/cgroup/cpuacct/cpuacct.usage"
_CG_V2 = "/sys/fs/cgroup/cpu.stat"


def cgroup_cpu_s() -> float:
    """CPU-seconds used so far by every process in this container."""
    try:
        with open(_CG_V1) as f:
            return int(f.read()) / 1e9
    except OSError:
        pass
    with open(_CG_V2) as f:
        for line in f:
            key, _, val = line.partition(" ")
            if key == "usage_usec":
                return int(val) / 1e6
    raise OSError("no cgroup cpu counter")


def cpu_counter_available() -> bool:
    try:
        cgroup_cpu_s()
        return True
    except (OSError, ValueError):
        return False


def _host_busy_s() -> float:
    """Busy CPU-seconds of the whole host (all containers)."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    hz = os.sysconf("SC_CLK_TCK") or 100
    # user nice system idle iowait irq softirq steal: guest time is
    # already inside user/nice, so only the first eight fields count
    return (sum(vals[:8]) - vals[3] - vals[4]) / hz


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _python_worker_pids() -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            out.append(int(d))
    return out


class RssSampler:
    """Largest RSS of one tracked process during start()..stop().

    ``jvm_pid=None`` tracks the pyspark Python workers (rescanned every
    half second, since the daemon forks them on demand); otherwise the
    one JVM process is tracked."""

    def __init__(self, jvm_pid: int | None = None, period_s: float = 0.05):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thr: threading.Thread | None = None

    def _run(self) -> None:
        pids: list[int] = []
        next_scan = 0.0
        while True:
            now = time.monotonic()
            if self.jvm_pid is not None:
                pids = [self.jvm_pid]
            elif now >= next_scan:
                pids = _python_worker_pids()
                next_scan = now + 0.5
            for p in pids:
                self.peak_mb = max(self.peak_mb, _rss_mb(p))
            if self._stop.wait(self.period_s):
                return

    def start(self) -> None:
        self._thr = threading.Thread(target=self._run, daemon=True)
        self._thr.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thr is not None:
            self._thr.join(timeout=5.0)
        return self.peak_mb


class Meter:
    """Wall, container CPU, co-tenant cores and peak worker RSS of one
    measured call. Co-tenant cores = host busy CPU minus this
    container's CPU over the same interval; it is an annotation that
    explains a slow pass, never a metric."""

    def __init__(self, jvm_pid: int | None = None, rss: bool = True):
        self.jvm_pid = jvm_pid
        self.rss = rss

    def __enter__(self) -> "Meter":
        self._sampler = RssSampler(self.jvm_pid) if self.rss else None
        if self._sampler:
            self._sampler.start()
        self._host0 = _safe(_host_busy_s)
        self._cpu0 = cgroup_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = cgroup_cpu_s() - self._cpu0
        host1 = _safe(_host_busy_s)
        self.peak_rss_mb = self._sampler.stop() if self._sampler else 0.0
        if self._host0 is None or host1 is None:
            self.ext_cores = None
        else:
            ext = (host1 - self._host0 - self.cpu_s) / max(self.wall_s, 1e-6)
            self.ext_cores = max(ext, 0.0)


def _safe(fn):
    try:
        return fn()
    except (OSError, ValueError):
        return None


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]); 0.0 for no samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = min(len(xs) - 1, max(0, int(round(q * (len(xs) - 1)))))
    return float(xs[k])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# --------------------------------------------------------------------------
# Spark event log → per job group
# --------------------------------------------------------------------------

def fold_event_log(event_dir: str) -> dict[str, dict]:
    """Per ``spark.jobGroup.id``: JVM CPU, shuffle bytes, spill, task
    times and failed tasks, read offline from the uncompressed JSON
    event log. Stages map to groups through their JobStart event."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    files = [
        p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    ]
    for path in sorted(files):
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group:
                        tasks.setdefault(group, []).append(ev)
    return {g: _fold_tasks(evs) for g, evs in tasks.items()}


def _fold_tasks(evs: list[dict]) -> dict:
    cpu_ns = sr = sw = spill = failed = 0
    durs = []
    for ev in evs:
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        if info.get("Failed") or reason != "Success":
            failed += 1
        cpu_ns += m.get("Executor CPU Time", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        sw += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        if info.get("Finish Time") and info.get("Launch Time"):
            durs.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
    return {
        "jvm_cpu_s": cpu_ns / 1e9,
        "shuffle_read_bytes": sr,
        "shuffle_write_bytes": sw,
        "spill_bytes": spill,
        "task_p50_s": quantile(durs, 0.5),
        "task_max_s": max(durs) if durs else 0.0,
        "failed_tasks": failed,
        "tasks": len(evs),
    }
