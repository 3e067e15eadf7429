#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}`` with every
end-to-end metric of BENCHMARK.json (``--trace 0``) or every per-layer
metric (``--trace 1``). Lines before it starting with ``#`` record the
host state and the raw samples behind each metric.

All files the run writes live under ``.perfbench_work/`` in the working
directory and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.getcwd()
HEAP = "2g"

END_TO_END = {
    "crawl_urls_per_s": "urls/s",
    "wave_s_p50": "s",
    "cpu_ms_per_url": "ms",
    "analytics_pass_s": "s",
    "warehouse_read_pass_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ops_ok_frac": "frac",
}


def per_layer_names() -> list[str]:
    from perfbench.workloads import HEADLINE, READS

    names = [
        "engine.select_s", "engine.fetch_extract_s", "engine.crawled_commit_s",
        "engine.frontier_commit_s", "engine.metrics_s", "engine.links_seen_gap",
        "kernel.page_ms", "kernel.decode_ms", "kernel.parse_ms",
        "kernel.top_words_ms", "kernel.opendir_ms", "kernel.bail_frac",
        "kernel.links_per_page", "kernel.extract_share",
        "urltools.resolve_us", "urltools.sanitize_us",
        "tables.crawled_append_s", "tables.frontier_commit_wave_s",
        "tables.frontier_compact_s", "tables.frontier_read_s",
        "tables.metrics_write_s", "tables.bytes_written", "tables.files_written",
        "tables.deltas_since_base", "tables.flip_rows_since_base",
        "seen.bloom_maint_s", "seen.links_checked", "seen.links_new",
        "seen.new_ratio", "seen.bloom_fill", "seen.sidecar_bytes",
        "spark.jobs_per_wave", "spark.tasks_per_wave", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.deser_s", "spark.shuffle_write_mb",
        "proc.jvm_cpu_s", "proc.pyworker_cpu_s", "proc.jvm_rss_mb",
        "proc.pyworker_rss_mb", "trace.wave_s_p50", "trace.in_wave_s",
    ]
    for q in READS + HEADLINE:
        names += [f"query.{q}_s", f"query.{q}.shuffles"]
    return names


def layer_unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_p50", "s"), ("_ms", "ms"), ("_us", "us"), ("_mb", "MB"),
                         ("_frac", "frac"), ("_ratio", "frac"), ("_fill", "frac"),
                         ("_share", "frac"), ("_bytes", "bytes"), ("bytes_written", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


def _configure_env(work: str) -> None:
    """Everything the JVM and python workers touch stays in the checkout;
    the JVM heap is explicit (the session default pre-commits 12g)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="seconds-long inputs, for the benchmark's own smoke tests")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "playwrightcrawler_spark")):
        print("perfbench: run from the repository root (playwrightcrawler_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers, workloads

    if args.workload not in workloads.SHAPES:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.SHAPES)}", file=sys.stderr)
        return 2
    shape = workloads.SHAPES[args.workload]
    if args.tiny:
        shape = workloads.tiny(shape)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(work)
    host = layers.HostState(HEAP)
    run = workloads.Run(args.workload, shape, args.seed, args.seconds,
                        bool(args.trace), work)
    try:
        m = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    print("# host " + json.dumps(host.record()))
    print("# detail " + json.dumps(run.detail))
    if args.trace:
        metrics = {n: {"value": float(run.layer.get(n, 0.0)), "unit": layer_unit(n)}
                   for n in per_layer_names()}
    else:
        metrics = {n: {"value": float(m[n]), "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
