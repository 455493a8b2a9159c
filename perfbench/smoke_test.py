#!/usr/bin/env python3
"""Smoke test of the benchmark at toy size: every workload run.py knows,
untraced and traced, must print a correct result with the metrics
BENCHMARK.json names.

    python3 perfbench/smoke_test.py
"""
import json
import subprocess
import sys

from run import ROOT, WORKLOADS


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []
    for w in WORKLOADS:
        for trace in (0, 1):
            want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
            cmd = [*spec["command"], "--workload", w, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--scale", "toy"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            tag = f"{w} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                failures.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            r = json.loads(lines[-1])
            problems = []
            if sorted(r) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"keys {sorted(r)}")
            if not r.get("correct") or r.get("failed") != 0 or r.get("attempted", 0) < 1:
                problems.append(f"correct={r.get('correct')} failed={r.get('failed')} "
                                f"attempted={r.get('attempted')}")
            if set(r.get("metrics", {})) != want:
                problems.append("metric names differ from BENCHMARK.json")
            if not trace and not all(v["value"] > 0 for v in r["metrics"].values()):
                problems.append("an end-to-end metric is not positive")
            print(f"{tag}: {'ok' if not problems else 'FAIL ' + '; '.join(problems)}", flush=True)
            if problems:
                failures.append(tag)
    if failures:
        print("\n".join(failures), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
