#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark harness.

Run from the repository root:

    python3 perfbench/selftest.py

It checks that:
  * each workload runs at tiny size with tracing off and on, prints one
    result line with exactly the contract's keys, passes its output
    checks and emits every metric BENCHMARK.json names, with its unit;
  * the traced sales run's layer wall times cover the run's wall time
    within the stated tolerance (LAYER_SHARE_MIN), and its maintenance
    layer ran both of its tasks;
  * a deliberately wrong oracle digest is reported as a failed op;
  * in a directory holding only BENCHMARK.json and perfbench/, the
    launcher exits non-zero without printing a result.
Exits non-zero on the first failed check. Takes about five minutes.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# Layers sum to at least this share of the dated run's wall; the rest is
# the metadata init, config loading and the control-table summary.
LAYER_SHARE_MIN = 0.90


def run(workload, trace, *extra, cwd=ROOT):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def main():
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            rc, out, err = run(w["name"], trace)
            label = f"{w['name']} trace={trace}"
            check(rc == 0 and out, f"{label}: exit 0 with output" + ("" if rc == 0 else "\n" + err[-2000:]))
            res = json.loads(out[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{label}: result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{label}: outputs correct ({res['attempted']} ops)")
            spec = SPEC["per_layer" if trace else "end_to_end"]
            units = {m["name"]: m["unit"] for m in spec}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == units, f"{label}: every metric named, with its unit ({len(units)})")
            if trace and w["name"] == "sales_daily":
                share = res["metrics"]["trace.layer_wall_share"]["value"]
                check(LAYER_SHARE_MIN <= share <= 1.0,
                      f"{label}: layer walls cover {share:.3f} of the run wall")
                check(res["metrics"]["layers.maintenance.steps"]["value"] == 2,
                      f"{label}: maintenance layer ran its two tasks")
                check(res["metrics"]["warehouse.reopen_failed_ratio"]["value"] in (0.0, 1.0),
                      f"{label}: restart probe reported")

    rc, out, _ = run("operator_queries", 0, "--corrupt-digest", "d12_shared_spans")
    res = json.loads(out[-1])
    check(rc == 0 and res["failed"] == 1 and not res["correct"],
          "a wrong oracle digest counts as one failed op")

    bare = ROOT / ".bench_build" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("target"))
    rc, out, _ = run("sales_daily", 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0 and not out, "bare directory: non-zero exit, no result line")
    print("self-test passed")


if __name__ == "__main__":
    main()
