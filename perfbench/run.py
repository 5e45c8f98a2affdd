"""Benchmark entry point.

    python3 perfbench/run.py --workload {olap,recipe,harvest} --seed N \
        --seconds S --trace {0,1} [--detail PATH] [--record]

Run from the repository root. Starts worker.py in a child process with
the package on PYTHONPATH (pandas-UDF workers import it too), Spark at
local[nproc], and all scratch state (Spark local dirs, Derby, sink,
catalog, event log) under ``.perfbench_work/`` in the checkout, removed
afterwards. Samples the memory of the worker's whole process tree
(Python driver, JVM, Python UDF workers) from outside.

The last stdout line is one JSON object: correct, attempted, failed and
metrics — the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``. ``--detail`` also saves the worker's full record
(per-operation walls, tail percentile, rows/s, every layer metric);
``--record`` stores the observed output checksums in expected.json.
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
PACKAGE = "opendata_gov_lt_mysql_import_spark"
TIMEOUT_S = 170
SAMPLE_EVERY_S = 0.2
DRIVER_MEMORY = "2g"

# end-to-end metrics (--trace 0) and per-layer metrics (--trace 1) that
# every workload reports; units as in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "op_s.p50": "s",
    "op_s.tail": "s",
    "ops_per_min": "1/min",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "traced.op_s.p50": "s",
    "construct_s": "s",
    "spark.catalyst.analysis_ms": "ms",
    "spark.catalyst.optimization_ms": "ms",
    "spark.catalyst.planning_ms": "ms",
    "spark.exec.action_s": "s",
    "spark.exec.jobs": "count",
    "spark.exec.tasks": "count",
    "spark.exec.task_s": "s",
    "spark.exec.driver_gap_s": "s",
    "spark.exec.input_bytes": "bytes",
    "spark.exec.shuffle_write_bytes": "bytes",
    "spark.exec.spill_bytes": "bytes",
}


def _tree_memory_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants, with pages
    that several of them share counted once: the sum of their Pss. (Summed
    RSS double-counts the pages forked Python workers share, and a JVM
    child that has not yet exec'd shows the whole JVM heap again.)"""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is 2 fields after ')'
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, pp in parent.items() if pp == pid and p not in tree]
        tree.update(kids)
        frontier += kids
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def _kill_tree(proc: subprocess.Popen) -> None:
    """Stop the worker's process group (the worker started it, so it holds
    the JVM and the Python UDF workers) and wait until all have ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _record(result: dict, workload: str, seed: int) -> None:
    path = os.path.join(HERE, "expected.json")
    with open(path) as fh:
        expected = json.load(fh)
    observed = result["detail"]["observed"]
    if workload == "harvest":
        expected.setdefault("harvest", {}).setdefault(str(seed), {}).update(observed)
    else:
        expected.setdefault(workload, {}).update(observed)
    with open(path, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("olap", "recipe", "harvest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail", help="write the worker's full record here")
    ap.add_argument("--record", action="store_true",
                    help="store observed checksums in expected.json")
    args = ap.parse_args()
    # a terminated run still stops its worker tree (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not (
        os.path.isfile(os.path.join(ROOT, "bench.py"))
    ):
        print(f"perfbench: {PACKAGE}/ and bench.py must sit next to perfbench/ "
              f"(looked in {ROOT})", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))  # what nproc prints
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_GRAFT_CPUS=cpus,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # a bounded heap keeps the process-tree memory steady between runs
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
    )
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out,
    ]
    peak = 0
    proc = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        deadline = time.monotonic() + TIMEOUT_S
        while proc.poll() is None:
            if time.monotonic() > deadline:
                print(f"perfbench: worker exceeded {TIMEOUT_S}s", file=sys.stderr)
                _kill_tree(proc)
                return 3
            peak = max(peak, _tree_memory_bytes(proc.pid))
            time.sleep(SAMPLE_EVERY_S)
        # the JVM can outlive the Python driver by a moment
        _kill_tree(proc)
        if proc.returncode != 0 or not os.path.isfile(out):
            print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
            return 4
        with open(out) as fh:
            result = json.load(fh)
    finally:
        if proc.poll() is None:
            _kill_tree(proc)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    result["metrics"]["peak_rss_mb"] = peak / 2**20
    if args.detail:
        with open(args.detail, "w") as fh:
            json.dump(result, fh, indent=1)
    if args.record:
        _record(result, args.workload, args.seed)
    chosen = result["layers"] if args.trace else result["metrics"]
    units = PER_LAYER if args.trace else END_TO_END
    line = {
        "correct": result["setup_ok"] and result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
