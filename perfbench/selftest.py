#!/usr/bin/env python3
"""Smoke self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Runs every workload of run.py (those BENCHMARK.json gates and scale_10x,
which is runnable by hand) once untraced and once traced on the sf0.001
input, and checks that each run prints its metrics by name with
their units: the last line is the result JSON holding exactly the declared
end-to-end (untraced) or per-layer (traced) metrics with the declared units,
and the report lines name all eight end-to-end metrics. Exits non-zero on
the first mismatch.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402
REPORTED = ["setup_s", "wall_s", "latency_p50_s", "latency_tail_s",
            "trigger_p50_ms", "failed_frac", "peak_rss_mb", "durable_mb"]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = [f"{w['name']}: not a workload of run.py" for w in spec["workloads"]
                if w["name"] not in run.WORKLOADS]
    for name in run.WORKLOADS:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            r = subprocess.run(
                spec["command"] + ["--workload", name, "--seed", "1",
                                   "--seconds", "1", "--trace", str(trace), "--smoke"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            tag = f"{name} trace {trace}"
            if r.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {r.returncode}: {r.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if not result.get("correct"):
                problems.append(f"{tag}: outputs not correct")
            got = result.get("metrics", {})
            want = {m["name"]: m["unit"] for m in declared}
            if {k: v.get("unit") for k, v in got.items()} != want:
                problems.append(f"{tag}: metrics {sorted(got)} != declared {sorted(want)}")
            if trace == 0:
                named = {ln.split(" = ")[0] for ln in lines[:-1] if " = " in ln}
                missing = [m for m in REPORTED if m not in named]
                if missing:
                    problems.append(f"{tag}: report lacks {missing}")
            print(f"{tag}: {len(got)} metrics, attempted {result.get('attempted')}",
                  flush=True)
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
