"""A/B comparison of two checkouts on one benchmark workload.

    python3 scripts/perf_ab.py --parent ../parent --change . \\
        --workload ingest_opcua_durable --seeds 1-10 --seconds 12 \\
        [--trace 0] [--out ab.jsonl]
    python3 scripts/perf_ab.py --summarize ab.jsonl

Runs ``perfbench/run.py`` in each checkout, one run at a time, one seed
per pair (a seed may repeat), alternating which side runs first (even pairs parent first,
odd pairs change first). Before each run it waits for every other JVM
on the machine to exit (a timed run beside another Spark process is not
a measurement) and gives up after ``JVM_WAIT_S`` seconds. Each run's
last stdout line is the benchmark's JSON result; with ``--out`` every
run is appended to that file as one JSON line, so ``--summarize`` can
print the table again later.

For each metric the summary gives the parent's and the change's median
and quartiles, the share the median moved, how many pairs the change
won, and whether the gain rule holds: the change wins at least nine
pairs in ten and the two medians lie further apart than the parent's
interquartile range. It also gives how far the metric moved against
its ``BENCHMARK.json`` bound in the worse direction, and each side's
failed share and correctness. The metric directions and bounds come
from the change checkout's ``BENCHMARK.json``; nothing under
``perfbench/`` is written.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

# How long to wait for other JVMs to exit before a run.
JVM_WAIT_S = 120.0


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def other_jvms() -> list[str]:
    """Command lines of the running Java processes."""
    r = subprocess.run(["pgrep", "-a", "-x", "java"], capture_output=True, text=True)
    return r.stdout.splitlines()


def wait_for_quiet() -> None:
    deadline = time.monotonic() + JVM_WAIT_S
    while True:
        jvms = other_jvms()
        if not jvms:
            return
        if time.monotonic() > deadline:
            raise SystemExit("another JVM is still running:\n" + "\n".join(jvms))
        time.sleep(2)


def run_one(checkout: str, workload: str, seed: int, seconds: str, trace: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", seconds, "--trace", trace]
    t0 = time.monotonic()
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-4000:])
        raise SystemExit(f"{checkout}: seed {seed} printed no JSON result (exit {r.returncode})")
    return {"result": result, "exit": r.returncode, "wall_s": time.monotonic() - t0}


def load_spec(checkout: str) -> dict[str, dict]:
    """metric -> {"better", "bound"} from BENCHMARK.json, if present."""
    try:
        with open(os.path.join(checkout, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        return {}
    return {m["name"]: m for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def metric_values(result: dict) -> dict[str, float]:
    """{name: value} of a run's metrics, each printed as {"value", "unit"}."""
    return {k: v["value"] if isinstance(v, dict) else v
            for k, v in result.get("metrics", {}).items()}


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def summarize(runs: list[dict], spec: dict[str, dict]) -> str:
    pairs: dict[int, dict[str, dict]] = {}
    seed_of = {}
    for r in runs:
        pairs.setdefault(r["pair"], {})[r["side"]] = {
            **r["result"], "metrics": metric_values(r["result"])}
        seed_of[r["pair"]] = r["seed"]
    pairs = {i: p for i, p in pairs.items() if {"parent", "change"} <= set(p)}
    if not pairs:
        return "no complete pair"
    out = [f"{len(pairs)} pairs, seeds {[seed_of[i] for i in sorted(pairs)]}"]
    for side in ("parent", "change"):
        res = [p[side] for p in pairs.values()]
        attempted = sum(r.get("attempted", 0) for r in res)
        failed = sum(r.get("failed", 0) for r in res)
        out.append(f"{side}: correct {sum(bool(r.get('correct')) for r in res)}/{len(res)}, "
                   f"failed {failed}/{attempted} operations")
    names = sorted({k for p in pairs.values() for s in p.values() for k in s.get("metrics", {})})
    need = math.ceil(0.9 * len(pairs))
    out.append(f"{'metric':<36} {'parent median [q1, q3]':<30}{' change median [q1, q3]':<31}"
               f"{'move':>8} {'wins':>6} {'rule':>5} {'vs bound':>9}")
    for name in names:
        ab = [(p["parent"]["metrics"].get(name), p["change"]["metrics"].get(name))
              for p in pairs.values()]
        ab = [(a, b) for a, b in ab if a is not None and b is not None]
        if not ab:
            continue
        a = [x for x, _ in ab]
        b = [y for _, y in ab]
        higher = spec.get(name, {}).get("better", "higher" if name.endswith("per_s") else "lower") == "higher"
        ma, mb = statistics.median(a), statistics.median(b)
        qa, qb = quartiles(a), quartiles(b)
        wins = sum((y > x) if higher else (y < x) for x, y in ab)
        rule = wins >= need and abs(mb - ma) > qa[1] - qa[0]
        move = (mb - ma) / ma if ma else 0.0
        worse = -move if higher else move
        bound = spec.get(name, {}).get("bound")
        vs_bound = f"{worse / bound:+.2f}" if bound else ""
        out.append(f"{name:<36} {ma:>10.4g} [{qa[0]:.4g}, {qa[1]:.4g}]".ljust(67)
                   + f" {mb:>10.4g} [{qb[0]:.4g}, {qb[1]:.4g}]".ljust(31)
                   + f" {move:>+7.1%} {wins:>3}/{len(ab):<2} {'met' if rule else '-':>5} {vs_bound:>9}")
    out.append(f"rule: change better in >= {need} of {len(pairs)} pairs and "
               "|median move| > parent IQR; 'vs bound' is the move in the worse "
               "direction as a share of the BENCHMARK.json bound (> 1 breaks it)")
    return "\n".join(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out", default=None, help="append each run as a JSON line")
    ap.add_argument("--summarize", default=None, metavar="JSONL",
                    help="print the summary of an earlier --out file and exit")
    args = ap.parse_args(argv)

    if args.summarize:
        with open(args.summarize) as f:
            runs = [json.loads(l) for l in f if l.strip()]
        spec = load_spec(args.change) if args.change else {}
        print(summarize(runs, spec))
        return 0
    if not (args.parent and args.change and args.workload):
        ap.error("--parent, --change and --workload are required")
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs = []
    for i, seed in enumerate(seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            wait_for_quiet()
            r = run_one(sides[side], args.workload, seed, args.seconds, args.trace)
            rec = {"pair": i, "side": side, "seed": seed, "workload": args.workload,
                   "trace": int(args.trace), **r}
            runs.append(rec)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
            m = metric_values(r["result"])
            print(f"seed {seed} {side}: correct={r['result'].get('correct')} "
                  f"failed={r['result'].get('failed')} "
                  + " ".join(f"{k}={v:.4g}" for k, v in m.items()
                             if k in ("setup_s", "batch_latency_s_p50", "read_s_p50",
                                      "records_per_s")),
                  flush=True)
    print(summarize(runs, load_spec(sides["change"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
