#!/usr/bin/env python3
"""Self-test of the benchmark: a few seconds per workload.

    python3 perfbench/selftest.py [--seconds 2] [--workload NAME ...]

For every workload it makes two runs and asserts that
  - untraced: the summary line parses, has exactly the keys correct,
    attempted, failed and metrics, is at most 1,500 characters, carries
    every end-to-end metric with its unit, and reports no failure;
  - traced, with one expected result deliberately corrupted: every
    per-layer metric appears with its unit, the span file is written,
    and the corrupted result is counted (failed > 0, correct false).
Exits 0 when every assertion holds.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402  (the metric tables)


def bench(workload, seconds, trace, corrupt):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd + (["--corrupt"] if corrupt else []), cwd=run.ROOT,
                       capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{workload}: exit {p.returncode}\n{p.stderr[-2000:]}"
    lines = p.stdout.strip().splitlines()
    return lines[-1], json.loads(lines[-2])


def check_metrics(summary, want):
    for name, unit in want.items():
        m = summary["metrics"].get(name)
        assert m is not None, f"metric {name} missing"
        assert m["unit"] == unit, f"metric {name}: unit {m['unit']} != {unit}"
        assert isinstance(m["value"], (int, float)), f"metric {name}: not a number"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=2)
    ap.add_argument("--workload", nargs="*", default=run.WORKLOADS)
    args = ap.parse_args()
    for w in args.workload:
        line, _ = bench(w, args.seconds, 0, False)
        assert len(line) <= 1500, f"{w}: summary line is {len(line)} characters"
        s = json.loads(line)
        assert set(s) == {"correct", "attempted", "failed", "metrics"}, sorted(s)
        assert s["attempted"] >= 1 and s["failed"] == 0 and s["correct"], s
        check_metrics(s, run.END_TO_END)
        print(f"ok   {w}: untraced, {s['attempted']} checked operations, "
              f"{len(line)} characters", flush=True)

        line, stamp = bench(w, args.seconds, 1, True)
        s = json.loads(line)
        check_metrics(s, run.PER_LAYER)
        assert s["failed"] > 0 and not s["correct"], f"{w}: corruption not counted: {s}"
        spans = os.path.join(run.ROOT, stamp["out"], "spans.jsonl")
        assert os.path.getsize(spans) > 0, f"{w}: no spans in {spans}"
        print(f"ok   {w}: traced, corrupted expectation counted "
              f"({s['failed']}/{s['attempted']})", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
