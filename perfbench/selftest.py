#!/usr/bin/env python3
"""Self-test of the benchmark at its tiny size.

    python3 perfbench/selftest.py

Runs every workload untraced and traced on tiny inputs and checks that the
last line of each run is a passing result that carries every metric named
in BENCHMARK.json (end-to-end untraced, per-layer traced) with its unit.
`query_suite` and `corpus_stream`, which BENCHMARK.json runs together as
`corpus_queries`, are run alone as well.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402


def result(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace),
                        "--size", "tiny"], cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert layer == {n: u for n, u, _ in metrics.per_layer_names()}, \
        "BENCHMARK.json per_layer differs from metrics.per_layer_names()"
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    for w in run.WORKLOADS:
        for trace, want in ((0, e2e), (1, layer)):
            r = result(w, trace)
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
            assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, r
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics {sorted(got)} != {sorted(want)}"
            assert all(isinstance(v["value"], (int, float)) for v in r["metrics"].values())
            print(f"ok {w} trace={trace}: {len(got)} metrics", flush=True)


if __name__ == "__main__":
    main()
