"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Workloads: serve, batch_registry (see README.md).
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
workload with layer wrappers and the Spark event log on and prints the
per-layer metrics. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

Runs from any working directory. Everything the run writes stays under
``.perfbench/`` in the checkout; per-run scratch is removed at exit.
The workload runs in a child process group that is killed and reaped
before this script returns.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = 2  # half of a 4-core box; see README.md
DRIVER_MEM = "2g"
TIMEOUT_S = 170


def _env(run_dir: str, trace: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    submit = [
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
        ]
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(min(CORES, len(os.sched_getaffinity(0)))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        PYTHONHASHSEED="0",
    )
    return env


def _reap(pgid: int) -> None:
    """Kill whatever is left of the worker's process group and wait
    until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(200):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "go_vectorsearch_spark", "__init__.py")):
        print(f"no go_vectorsearch_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--work-dir", WORK, "--result", result,
    ]
    # a terminated benchmark still takes its workers down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = None
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=_env(run_dir, bool(args.trace)),
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"workload exceeded {TIMEOUT_S} s", file=sys.stderr)
            rc = -1
        finally:
            _reap(proc.pid)
            proc.wait()
        if rc == 0:
            with open(result) as f:
                out = json.load(f)
    except (OSError, ValueError) as e:
        print(f"no result: {e}", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if out is None:
        print(f"workload {args.workload} failed", file=sys.stderr)
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
