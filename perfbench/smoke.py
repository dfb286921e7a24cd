#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at sf0.001 (run from the checkout root):

    python3 perfbench/smoke.py

For every workload it makes one untraced and one traced run, and checks
that each run is correct, prints every metric BENCHMARK.json names (and no
other), and that the traced passes repeat their job, stage and task counts
exactly. Exits non-zero on the first failure.
"""
import json
import re
import subprocess
import sys

spec = json.load(open("BENCHMARK.json"))
ok = True
for w in spec["workloads"]:
    for trace, group in ((0, "end_to_end"), (1, "per_layer")):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", w["name"], "--seed", "7",
             "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
            capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        problems = []
        if out.returncode != 0 or not lines:
            problems.append(f"exit {out.returncode}: {out.stderr[-2000:]}")
        else:
            res = json.loads(lines[-1])
            want = {m["name"] for m in spec[group]}
            if not res["correct"] or res["failed"]:
                problems.append(f"incorrect: {res}")
            if set(res["metrics"]) != want:
                problems.append(f"metrics differ: missing {sorted(want - set(res['metrics']))}, "
                                f"extra {sorted(set(res['metrics']) - want)}")
            if trace:
                counts = [ln for ln in lines if "traced pass counts" in ln]
                passes = re.findall(r"\(([\d,]+)\)", counts[0]) if counts else []
                if len(passes) < 2 or len(set(passes)) != 1:
                    problems.append(f"traced counts do not repeat: {counts}")
        print(f"{w['name']} trace={trace}: {'ok' if not problems else 'FAIL'}")
        for p in problems:
            print("  " + p)
        ok = ok and not problems
sys.exit(0 if ok else 1)
