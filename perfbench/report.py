"""Print every metric of every workload, by name and unit.

    python3 perfbench/report.py [--seed N] [--seconds S] [--workloads a,b]

Run from the repository root. For each workload (default: olap, recipe,
harvest) it makes one untraced run and one traced run through run.py and
prints the end-to-end metrics (with the tail's percentile and sample
count, rows/s for harvest and the failed share), every per-layer metric,
and the tracing overhead: the traced run's op_s.p50 minus the untraced
run's. Exits non-zero when any run fails or any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

sys.path.insert(0, HERE)
from run import END_TO_END, PER_LAYER  # noqa: E402

UNITS = {**END_TO_END, "rows_per_s": "1/s", "failed_share": "ratio",
         "tracing_overhead_s": "s"}


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric: BENCHMARK.json's, else from its name."""
    if name in PER_LAYER:
        return PER_LAYER[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_share", "_per_source_row")):
        return "ratio"
    return "count"


def run(workload: str, seed: int, seconds: float, trace: int, tmp: str) -> dict:
    detail = os.path.join(tmp, f"{workload}-{trace}.json")
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--detail", detail],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {proc.returncode}")
    with open(detail) as fh:
        out = json.load(fh)
    out["line"] = json.loads(proc.stdout.strip().splitlines()[-1])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workloads", default="olap,recipe,harvest")
    args = ap.parse_args()

    tmp = os.path.join(ROOT, ".perfbench_work", f"report-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    all_ok = True
    try:
        for wl in args.workloads.split(","):
            plain = run(wl, args.seed, args.seconds, 0, tmp)
            traced = run(wl, args.seed, args.seconds, 1, tmp)
            d = plain["detail"]
            values = dict(plain["metrics"])
            values["failed_share"] = d["failed_share"]
            if "rows_per_s" in d:
                values["rows_per_s"] = d["rows_per_s"]
            values["tracing_overhead_s"] = (
                traced["layers"]["traced.op_s.p50"] - values["op_s.p50"]
            )
            ok = plain["line"]["correct"] and traced["line"]["correct"]
            all_ok &= ok
            print(f"== {wl} (seed {args.seed}, {plain['attempted']} operations, "
                  f"outputs {'correct' if ok else 'WRONG'})")
            for name, value in values.items():
                note = ""
                if name == "op_s.tail":
                    note = f"  (p{d['op_s.tail_percentile']:.0f} of n={d['n']})"
                print(f"  {name:34s} {value:16.4f} {UNITS[name]}{note}")
            print("  -- per layer (traced run)")
            for name, value in traced["layers"].items():
                print(f"  {name:34s} {value:16.4f} {layer_unit(name)}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
