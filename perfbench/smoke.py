#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny shapes (--smoke: a few
pipes, the catalog at sf0.001). Run from the root of a checkout:

    python3 perfbench/smoke.py

Checks, for every workload, that a --trace 0 run prints every end-to-end
metric and a --trace 1 run every per-layer metric of BENCHMARK.json with
its unit and no failed output; that the seed changes the catalog order
and the generated deploy inputs; that catalog digests are equal across
seeds; and that a planted wrong result counts as a failure on both kinds
of workload. Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
SECONDS = "3"


def run(workload, seed, trace=0, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--smoke",
           "--workload", workload, "--seed", str(seed), "--seconds", SECONDS,
           "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"FAIL: {' '.join(cmd)} exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def check(cond, msg):
    if not cond:
        raise SystemExit(f"FAIL: {msg}")
    print(f"ok   {msg}")


def check_metrics(result, specs, what):
    got = result["metrics"]
    check(set(got) == {m["name"] for m in specs}, f"{what}: every metric present")
    check(all(got[m["name"]]["unit"] == m["unit"] for m in specs), f"{what}: units match")
    check(all(isinstance(got[m["name"]]["value"], (int, float)) for m in specs),
          f"{what}: values are numbers")


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    tmp = tempfile.mkdtemp(prefix="smoke-", dir=os.path.join(HERE, ".work"))
    digests = [os.path.join(tmp, f"digests{s}.txt") for s in (1, 2)]

    crcs = {}
    for w in ("live_deploy",):
        for seed in (1, 2):
            lines, res = run(w, seed)
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                  f"{w} seed {seed}: outputs equal the batch reference")
            check_metrics(res, spec["end_to_end"], f"{w} seed {seed} trace 0")
            crcs[(w, seed)] = next(l for l in lines if l.startswith("gen content_crc="))
        check(crcs[(w, 1)] != crcs[(w, 2)], f"{w}: the seed changes the generated input")
        _, res = run(w, 1, 1)
        check_metrics(res, spec["per_layer"], f"{w} trace 1")
        check(res["metrics"]["stream.batches"]["value"] > 0, f"{w} trace 1: micro-batches are traced")
    _, res = run("live_deploy", 1, 0, "--plant")
    check(not res["correct"] and res["failed"] > 0, "live_deploy: a planted wrong row fails")

    orders = []
    for seed, out in zip((1, 2), digests):
        lines, res = run("catalog", seed, 0, "--write-goldens", out)
        orders.append([l.split()[1] for l in lines if l.startswith("query ")])
        check_metrics(res, spec["end_to_end"], f"catalog seed {seed} trace 0")
    check(sorted(orders[0]) == sorted(orders[1]) and orders[0] != orders[1],
          "catalog: the seed permutes the query order")
    check(open(digests[0]).read() == open(digests[1]).read(),
          "catalog: result digests are equal across seeds")
    _, res = run("catalog", 3, 1, "--goldens", digests[0])
    check(res["correct"] and res["failed"] == 0, "catalog seed 3: digests match seed 1")
    check_metrics(res, spec["per_layer"], "catalog trace 1")
    check(res["metrics"]["resources.checkpoint_jobs"]["value"] > 0,
          "catalog trace 1: localCheckpoint jobs are attributed")
    check(res["metrics"]["driver.plan_ms"]["value"] > 0, "catalog trace 1: planning is traced")
    _, res = run("catalog", 3, 0, "--goldens", digests[0], "--plant")
    check(not res["correct"] and res["failed"] == 1, "catalog: a planted wrong result fails")
    print("smoke: all checks passed")


if __name__ == "__main__":
    main()
