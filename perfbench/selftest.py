#!/usr/bin/env python3
"""Self-test of the benchmark harness, at sf0.001 with a two-query panel
per workload (about three minutes on 4 cores):

- every end-to-end metric (trace 0) and every per-layer metric
  (trace 1) of BENCHMARK.json prints with its unit;
- no query fails or mismatches its oracle (`fail_frac` = 0);
- the traced `q1_agg` record has `exec.jobs` >= 1 and
  `spark.input_mb` >= 0;
- a second seed draws a different panel.

Run from the repository root: python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

failures = []


def check(ok, what):
    print(("PASS " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def bench(workload, trace, panel):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
           "--panel", panel]
    r = subprocess.run(cmd, text=True, stdout=subprocess.PIPE, timeout=300)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        check(False, f"{workload} trace={trace}: exit {r.returncode}")
        return None, None
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    spec = run.load_bench_json()
    pools = run.load_pools()["workloads"]
    for w in pools:
        check(run.draw_panel(pools[w], 1) != run.draw_panel(pools[w], 2),
              f"{w}: seeds 1 and 2 draw different panels")
    for w in pools:
        panel = ("q1_agg,q3_shipping" if w == "etl"
                 else ",".join(run.draw_panel(pools[w], 1)[:2]))
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            record, result = bench(w, trace, panel)
            if result is None:
                continue
            metrics = result["metrics"]
            missing = [m["name"] for m in spec[key]
                       if m["name"] not in metrics
                       or metrics[m["name"]].get("unit") != m["unit"]
                       or not isinstance(metrics[m["name"]].get("value"), (int, float))]
            check(not missing, f"{w} trace={trace}: every {key} metric with unit"
                  + (f" (missing {missing})" if missing else ""))
            check(record["end_to_end"]["fail_frac"] == 0 and result["correct"],
                  f"{w} trace={trace}: fail_frac = 0 (failed: {record['failed_queries']})")
            if w == "etl" and trace == 1:
                out = os.path.join(HERE, ".out", "etl-s1-t1", "profile.jsonl")
                rows = [json.loads(x) for x in open(out)]
                q1 = [r for r in rows if r["name"] == "q1_agg"]
                check(bool(q1) and q1[0]["exec"].get("jobs", 0) >= 1
                      and q1[0]["exec"].get("input_mb", -1) >= 0,
                      "traced q1_agg: exec.jobs >= 1 and input_mb >= 0")
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
