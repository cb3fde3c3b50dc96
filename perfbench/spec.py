"""Metric names, units and directions: the one table that the run, the
self-tests and ``BENCHMARK.json`` agree on.

``python3 -m perfbench.spec`` prints the metric lists in the shape of
``BENCHMARK.json``.
"""

from __future__ import annotations

import json

# end-to-end: (name, unit, better, bound = tolerated worsening share)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("peak_worker_rss_mb", "MB", "lower", 0.05),
)

# Printed in the report with their sample count, but not bounded: on a
# shared 4-CPU VM their run-to-run spread over ten seeds (IQR / median
# 0.24 to 0.47) is wider than the largest bound a metric may carry,
# 0.25. See perfbench/README.md, "Steadiness and bounds".
REPORT_ONLY = (("wall_s", "s"), ("pages_per_s", "1/s"))

QUERIES = (
    "cms_heavy_hitters", "hll_host_cardinality", "hits_scores",
    "bpe_train_merges", "ann_cosine_topk", "pq_adc_topk",
    "redirect_resolve", "substring_dedup",
)

_GRID = tuple(
    f"kernel.grid.{kb}kb_c{c}.{phase}_us"
    for kb, c in ((1, 10), (1, 100), (18, 10), (18, 100), (18, 1000),
                  (160, 10), (160, 100), (160, 1000))
    for phase in ("extract", "plausibilize")
)


def _per_layer() -> tuple[tuple[str, str, str], ...]:
    m: list[tuple[str, str, str]] = []
    add = lambda name, unit, better="lower": m.append((name, unit, better))  # noqa: E731
    # tracing overhead and the CPU accounting of the ledger
    for name in ("untraced_wall_s", "untraced_cpu_s", "traced_wall_s",
                 "traced_cpu_s", "overhead_wall_s", "overhead_cpu_s"):
        add(f"trace.{name}", "s")
    add("ledger.layers_cpu_s", "s")
    add("ledger.unattributed_cpu_s", "s")
    # Spark event log, per timed pass
    add("spark.jvm_cpu_s", "s")
    add("spark.shuffle_read_bytes", "bytes")
    add("spark.shuffle_write_bytes", "bytes")
    add("spark.spill_bytes", "bytes")
    add("spark.task_p50_s", "s")
    add("spark.task_max_s", "s")
    add("spark.failed_tasks", "count")
    # kernel, timed per document in the benchmark's process
    for name in ("extract_us.p50", "extract_us.p99", "extract_us.max",
                 "parse_us.p50", "parse_us.p99", "plausibilize_us.p50",
                 "plausibilize_us.p99", "rest_us.p50"):
        add(f"kernel.{name}", "us")
    add("kernel.candidates.p50", "count")
    add("kernel.candidates.max", "count")
    for phase in ("parse", "plausibilize", "rest"):
        add(f"kernel.{phase}_share", "ratio")
    for b in ("le10", "le100", "le1000"):
        add(f"kernel.{b}.pages", "count", "higher")
        for phase in ("extract", "parse", "plausibilize", "rest"):
            add(f"kernel.{b}.{phase}_us.p50", "us")
    for name in _GRID:
        add(name, "us")
    add("langid.score_us.p50", "us")
    add("langid.score_us.p99", "us")
    # serialized layer calls: container CPU, plus event-log JVM CPU
    for layer in ("scan", "pipeline.passthrough", "pipeline.extract", "write",
                  "filters", "dedup_exact", "audit.shingles", "audit.lsh",
                  "audit.verify"):
        add(f"{layer}.cpu_s", "s")
        add(f"{layer}.jvm_cpu_s", "s")
    add("pipeline.extract.wall_s", "s")
    add("write.bytes", "bytes")
    add("filters.kept_frac", "ratio", "higher")
    for layer in ("dedup_exact", "audit.lsh", "audit.verify"):
        add(f"{layer}.shuffle_write_bytes", "bytes")
    add("audit.lsh.candidates", "count")
    add("audit.useful_frac", "ratio", "higher")
    # the JVM-only query suite, one query at a time
    for q in QUERIES:
        add(f"query.{q}.wall_s", "s")
        add(f"query.{q}.shuffle_write_bytes", "bytes")
    return tuple(m)


PER_LAYER = _per_layer()
UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER + REPORT_ONLY}


def benchmark_lists() -> dict:
    return {
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd}
            for n, u, b, bd in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER
        ],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_lists(), indent=2))
