"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload ingest_opcua_durable --seeds 1-10 \\
        --seconds 8 [--trace 1] [--cores 1]

Runs ``run.py`` once per seed, one run at a time, from the root of the
checkout. For each metric it prints the median of the per-run values
and the distance between their first and third quartiles
(``statistics.quantiles(values, n=4)``) as a share of that median:
the figure each end-to-end bound in BENCHMARK.json is held against.
It also prints the failed share of the operations of every run, and
the share of the machine's CPU time stolen by its hypervisor during
the run, where the kernel reports it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, where the kernel
    reports them (Linux ``/proc/stat``); (0, 0) elsewhere."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--cores", default=None)
    args = ap.parse_args(argv)
    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace]
        if args.cores:
            cmd += ["--cores", args.cores]
        t0 = time.time()
        steal0, total0 = cpu_ticks()
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
        wall = time.time() - t0
        steal1, total1 = cpu_ticks()
        steal = (steal1 - steal0) / max(1, total1 - total0)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append(result)
        share = result["failed"] / result["attempted"]
        values = " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items())
        print(f"seed {seed}: wall {wall:.1f} s, cpu steal {steal:.1%}, attempted {result['attempted']}, "
              f"failed share {share:.4f}, correct {result['correct']}, {values}", flush=True)
    print(f"\n{args.workload}: {len(runs)} runs, failed shares "
          f"{sorted({r['failed'] / r['attempted'] for r in runs})}, "
          f"all correct {all(r['correct'] for r in runs)}")
    summary = {}
    for name, first in runs[0]["metrics"].items():
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med if med else 0.0
        summary[name] = {"median": med, "iqr_share": spread, "unit": first["unit"]}
        print(f"  {name:40s} median {med:14.4f} {first['unit']:10s} iqr/median {spread:.3f}")
    print(json.dumps({"workload": args.workload, "metrics": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
