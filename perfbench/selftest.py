#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload once with --trace 0 and once with --trace 1, and checks
that each run exits 0 and that its last stdout line carries exactly the
metrics BENCHMARK.json names, in order, with their units. In a --trace 0 run
every value must be non-zero, and in every run every output check must pass.
It also checks that the scrape run reports the known hand-off defect. Then it
runs every workload once more, in this process, against wrong data: a store
with one properties file deleted for scrape, and deliberately wrong recorded
expectations for queries and train. Each run must come back with
correct=false and failed=1, which shows that the checks fire.

Each run is one iteration (--seconds 0) of the real workload sizes: their
time is per-job floor, which smaller inputs would not shorten. The whole test
takes about ten minutes on 4 cores; the traced train run includes the
~80 s ModelJob.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import run  # noqa: E402


def bench(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


def expect(cond, what):
    print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace in (0, 1):
            res, err = bench(w, trace)
            want = spec["per_layer" if trace else "end_to_end"]
            tag = f"{w} trace={trace}"
            expect(sorted(res) == ["attempted", "correct", "failed", "metrics"], f"{tag}: keys")
            expect(list(res["metrics"]) == [m["name"] for m in want], f"{tag}: every metric, in order")
            expect(all(res["metrics"][m["name"]]["unit"] == m["unit"] for m in want),
                   f"{tag}: units")
            if not trace:
                expect(all(v["value"] > 0 for v in res["metrics"].values()),
                       f"{tag}: no end-to-end metric is 0")
            failed = [line for line in err.splitlines() if "FAILED" in line]
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{tag}: all {res['attempted']} operations and checks pass"
                   + "".join(f"\n     {line}" for line in failed))
            if w == "scrape_weekly":
                expect("known defect probe" in err and "FAILS: [UNRESOLVED_COLUMN" in err,
                       f"{tag}: the known hand-off defect is reported")

    # the checks fire: one wrong input per workload, each run in this process
    wrong = os.path.join(run.STATE, "selftest-wrong")
    shutil.rmtree(wrong, ignore_errors=True)
    os.makedirs(wrong)
    for name in ("EXPECTED_QUERIES", "EXPECTED_TRAIN"):
        with open(getattr(run, name)) as f:
            exp = json.load(f)
        if "queries" in exp:
            exp["queries"][sorted(exp["queries"])[0]]["hash"] = "0" * 64
        else:
            exp["clean_rows"] += 1
        path = os.path.join(wrong, os.path.basename(getattr(run, name)))
        with open(path, "w") as f:
            json.dump(exp, f)
        setattr(run, name, path)

    real_jvm = run.jvm

    def jvm_on_damaged_store(mode, wd, trace=False, **kv):
        if mode == "scrape":
            bad = os.path.join(wrong, "store")
            if not os.path.exists(bad):
                shutil.copytree(kv["store"], bad)
                os.remove(sorted(glob.glob(os.path.join(bad, "properties", "part-*")))[0])
            kv["store"] = bad
        return real_jvm(mode, wd, trace, **kv)
    run.jvm = jvm_on_damaged_store

    for w in workloads:
        res = run.bench(argparse.Namespace(workload=w, seed=7, seconds=0, trace=0))
        expect(not res["correct"] and res["failed"] == 1,
               f"{w}: one wrong input fails exactly one check")
    shutil.rmtree(wrong, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
