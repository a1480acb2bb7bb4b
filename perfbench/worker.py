"""One benchmark run in one process: start the session, run a workload,
check its outputs and write the result for ``run.py`` to print.

Run through ``run.py``, which prepares the environment (Spark scratch
and temp directories inside the checkout, the event log for traced
runs) and owns the process lifetime.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from common import tail, vm_hwm_mb  # noqa: E402
from layers import (  # noqa: E402
    PER_LAYER,
    SELF_LAYERS,
    install_registry,
    install_serving,
    per_layer,
)
from spans import Tracer, parse_event_log  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "read_ms": "ms",
    "write_ms": "ms",
}


class Run:
    """State one workload shares with the harness: the session, the
    tracer, the correctness tally and the report lines."""

    def __init__(self, args, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.run_dir = args.run_dir
        self.work_dir = args.work_dir
        self.attempted = 0
        self.failed = 0
        self.client_ms: dict[str, float] = {}
        self.timed_ops: list[str] = []
        self.setup_s = float("nan")
        self.read_ms = float("nan")
        self.write_ms = float("nan")
        self.passes = 0  # whole passes over a fixed operation set, where counted
        self.t_start = args.t_start

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", flush=True)

    def setup_done(self) -> None:
        """Set-up runs from process start to the first timed operation."""
        self.setup_s = time.perf_counter() - self.t_start
        self.mark("set-up done")

    def op(self, rid: str, ms: float) -> None:
        """A timed operation: its id names its spans in the traced run."""
        self.timed_ops.append(rid)
        self.client_ms[rid] = ms

    def mark(self, what: str) -> None:
        """Progress line: seconds since set-up began."""
        print(f"[{time.perf_counter() - self.t_start:7.2f} s] {what}", flush=True)

    def headline(self, read_ms: float, write_ms: float) -> None:
        """The end-to-end read and write figures (README.md says what
        they are in each workload)."""
        self.read_ms, self.write_ms = read_ms, write_ms

    def line(self, name: str, value: float, unit: str, n: int) -> None:
        print(f"{name:28s} {value:14.4f} {unit:6s} n={n}", flush=True)

    def tail_line(self, name: str, xs: list[float]) -> None:
        v, pct = tail(xs)
        if math.isnan(v):
            print(f"{name:28s} {'n/a':>14s} ms     n={len(xs)} (needs more than 10)")
        else:
            print(f"{name:28s} {v:14.4f} ms     n={len(xs)} (p{pct})", flush=True)


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    import registry
    import serve

    workloads = {
        "serve": (serve.serve, install_serving),
        "batch_registry": (registry.batch_registry, install_registry),
    }
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; known: {sorted(workloads)}",
              file=sys.stderr)
        return 2
    body, install = workloads[args.workload]
    if args.workload == "batch_registry":
        # input generation (first run in a checkout only) is not set-up
        registry.tables_dir(args.work_dir)
    args.t_start = time.perf_counter()

    from go_vectorsearch_spark import get_spark
    from go_vectorsearch_spark.sources.tables import ensure_package_on_workers

    spark = get_spark(f"perfbench-{args.workload}")
    # nothing on the Engine/serve() path ships the package to Python
    # workers; without this the embed stage fails outside the repo root
    ensure_package_on_workers(spark)
    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    install(tracer)
    run = Run(args, spark, tracer)
    try:
        body(run)
    finally:
        tracer.unwrap()
    rss = vm_hwm_mb() + vm_hwm_mb(_jvm_pid(spark))
    spark.stop()
    run.mark("session stopped")

    run.line("peak_rss_mb", rss, "MB", 1)
    print(f"{'failed_share':28s} {run.failed / max(1, run.attempted):14.4f} ratio  "
          f"n={run.attempted}")
    if args.trace:
        metrics = _traced_metrics(run, args)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": run.setup_s,
            "read_ms": run.read_ms,
            "write_ms": run.write_ms,
        }
        units = END_TO_END
    for k, v in metrics.items():
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            print(f"metric {k} is not a finite number: {v}", file=sys.stderr)
            return 1
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def _traced_metrics(run: Run, args) -> dict:
    """Per-layer metrics of the traced run; the spans are kept under
    ``last_trace/`` for inspection."""
    log_dir = os.path.join(args.run_dir, "eventlog")
    groups = parse_event_log(log_dir)
    keep = os.path.join(args.work_dir, "last_trace")
    os.makedirs(keep, exist_ok=True)
    run.tracer.dump(os.path.join(keep, f"{args.workload}.spans.jsonl"))
    extra = {
        "trace.read_ms": run.read_ms,
        "trace.write_ms": run.write_ms,
    }
    out = per_layer(run.tracer.spans, groups, set(run.timed_ops),
                    client_ms=run.client_ms, extra=extra, passes=max(1, run.passes))
    _print_layer_report(run, out)
    return {k: out[k] for k in PER_LAYER}


def _print_layer_report(run: Run, out: dict) -> None:
    """Self time per layer and the tracer's own cost, per operation."""
    n = len(run.timed_ops)
    print(f"per-layer self time per operation (n={n}):")
    for layer in SELF_LAYERS:
        print(f"  {layer:10s} {out[f'{layer}.self_ms']:10.2f} ms")
    print(f"  tracer bookkeeping {out['trace.bookkeeping_ms']:.2f} ms/op over "
          f"{out['trace.spans_per_op']:.1f} spans/op; traced read/write "
          f"{out['trace.read_ms']:.1f}/{out['trace.write_ms']:.1f} ms "
          f"(tracing overhead = these minus the untraced read_ms/write_ms)")


if __name__ == "__main__":
    sys.exit(main())
