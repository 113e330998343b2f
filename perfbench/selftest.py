#!/usr/bin/env python3
"""Self-test of the benchmark harness, on small (sf0.001) inputs.

Run from the root of a source checkout:

    python3 perfbench/selftest.py

For every workload it runs one untraced and one traced smoke run and checks
that the result line is well formed, that it is correct, and that it carries
exactly the metrics BENCHMARK.json lists, each with its unit. It then runs
one workload against a deliberately wrong expected result and checks that
the run reports it as wrong. Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd)}: exit {p.returncode}\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def check_shape(res, listed, label):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, f"{label}: keys {set(res)}"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, label
    assert isinstance(res["failed"], int), label
    want = {m["name"]: m["unit"] for m in listed}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{label}: metrics {got} != {want}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{label}: {k} not a number"


def main():
    for w in [x["name"] for x in SPEC["workloads"]]:
        for trace, listed in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
            _, res = run(w, trace)
            label = f"{w} trace={trace}"
            check_shape(res, listed, label)
            assert res["correct"] and res["failed"] == 0, f"{label}: {res}"
            print(f"ok   {label}: {len(res['metrics'])} metrics, {res['attempted']} requests")
    w = SPEC["workloads"][0]["name"]
    entry = "p66_pagerank" if w == "graph_loops" else "s3_script_set_sql"
    lines, res = run(w, 0, "--expect-wrong", entry)
    assert res["correct"] is False, f"wrong expectation passed: {res}"
    assert any(l.startswith(f"WRONG {entry}:") for l in lines), lines
    print(f"ok   {w}: a wrong expected result for {entry} is reported as wrong")
    print("selftest passed")


if __name__ == "__main__":
    main()
