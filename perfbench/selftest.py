"""Self-test of the benchmark at toy size (about four minutes).

    python3 perfbench/selftest.py

From the root of a checkout it checks that

- every workload, untraced and traced, exits 0 and ends its output with
  one JSON object holding exactly ``correct``, ``attempted``,
  ``failed`` and ``metrics``, with every metric BENCHMARK.json names
  for that mode, in its unit, and every end-to-end value above 0;
- a read altered on purpose (``--corrupt-read``) is counted as one
  more failed operation and makes the run incorrect, and the run still
  ends normally;
- in a directory holding only BENCHMARK.json and the benchmark's files
  the command exits non-zero without printing a result.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, capture_output=True, text=True, cwd=cwd, timeout=600)


def result(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}:\n{proc.stderr[-2000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(out)}")
    if not (isinstance(out["attempted"], int) and out["attempted"] >= 1
            and isinstance(out["failed"], int) and 0 <= out["failed"] <= out["attempted"]):
        raise AssertionError(f"bad counts {out['attempted']} / {out['failed']}")
    return out


def check_metrics(out: dict, spec: list[dict], positive: bool) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != want:
        raise AssertionError(f"metrics differ from BENCHMARK.json: {set(got) ^ set(want)} or units")
    for k, v in out["metrics"].items():
        x = v["value"]
        if not isinstance(x, (int, float)) or not math.isfinite(x) or (positive and x <= 0):
            raise AssertionError(f"{k} = {x}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    base = ["--seed", "7", "--seconds", "3", "--scale", "toy"]
    names = [w["name"] for w in bench["workloads"]]
    for w in names:
        clean = result(run(["--workload", w, "--trace", "0", *base]))
        check_metrics(clean, bench["end_to_end"], positive=True)
        if not clean["correct"]:
            raise AssertionError(f"{w}: incorrect output")
        check_metrics(result(run(["--workload", w, "--trace", "1", *base])),
                      bench["per_layer"], positive=False)
        print(f"{w}: all metrics present, attempted {clean['attempted']}, "
              f"failed {clean['failed']}", flush=True)

    bad = result(run(["--workload", "neardup_corpus", "--trace", "0", "--corrupt-read", "0", *base]))
    if bad["correct"] or bad["failed"] != 1:
        raise AssertionError(f"corrupted read not counted: {bad}")
    print("corrupted read: counted as failed, run completed")

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = run(["--workload", "neardup_corpus", "--trace", "0", *base], cwd=bare)
        if proc.returncode == 0 or proc.stdout.strip():
            raise AssertionError(f"bare directory: exit {proc.returncode}, stdout {proc.stdout!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("bare directory: exits non-zero without a result")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except AssertionError as e:
        print(f"selftest FAILED: {e}", file=sys.stderr)
        sys.exit(1)
