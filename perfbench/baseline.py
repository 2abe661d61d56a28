#!/usr/bin/env python3
"""Record the traced per-layer baseline of every workload.

    python3 perfbench/baseline.py [seed]

Runs `run.py --trace 1` once per workload in `pools.json` (the driven
ones and `curation`) and writes `perfbench/baseline/<workload>.json`
(the full record) and `perfbench/baseline/BASELINE.md` (one table of
every per-layer metric, the tracing overhead, and for each workload
whether the layer it was chosen for does most of its work).
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "baseline")
sys.path.insert(0, HERE)
import run  # noqa: E402


def traced(workload, seed):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(run.load_bench_json()["run_seconds"]),
                        "--trace", "1"], text=True, stdout=subprocess.PIPE, timeout=600)
    if r.returncode != 0:
        sys.exit(f"{workload}: run.py exited {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-2])


def verdict(w, m):
    """Does the layer the workload was chosen for do most of its work?"""
    q = m["build.s"] + m["exec.s"] + m["sink.s"] + m["registry.lookup_s"]
    if w == "etl":
        share = (m["exec.s"] + m["sink.s"]) / q
        return (share > 0.5,
                f"exec + sink = {share:.0%} of query time; build.jobs = {m['build.jobs']:.0f} per pass "
                f"over {m['build.tasks']:.0f} tasks")
    if w == "iterative":
        return (m["build.jobs"] > m["exec.jobs"],
                f"build.jobs {m['build.jobs']:.0f} vs exec.jobs {m['exec.jobs']:.0f} per pass; "
                f"build.s = {m['build.s'] / q:.0%} of query time; "
                f"{m['spark.tasks_per_job']:.2f} tasks per job")
    return (m["spark.cpu_util"] > 0.5,
            f"task time / (wall x cores) = {m['spark.cpu_util']:.2f}; "
            f"{m['spark.tasks_per_job']:.2f} tasks per job; build.jobs {m['build.jobs']:.0f}, "
            f"exec.jobs {m['exec.jobs']:.0f} per pass")


def main():
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    os.makedirs(OUT, exist_ok=True)
    spec = run.load_bench_json()
    records = {}
    for w in run.load_pools()["workloads"]:
        records[w] = traced(w, seed)
        with open(os.path.join(OUT, f"{w}.json"), "w") as fh:
            json.dump(records[w], fh, indent=1)
            fh.write("\n")
    ws = list(records)
    lines = [
        "# Traced per-layer baseline",
        "",
        f"One `run.py --trace 1 --seed {seed} --seconds {spec['run_seconds']}` per workload "
        "(`python3 perfbench/baseline.py`). Figures are per pass over the panel; "
        "the full records, panels and provenance are in `<workload>.json`.",
        "",
        "| metric | unit | " + " | ".join(ws) + " |",
        "|---|---|" + "---|" * len(ws),
    ]
    for m in spec["per_layer"]:
        vals = " | ".join(f"{records[w]['per_layer'][m['name']]:.4g}" for w in ws)
        lines.append(f"| {m['name']} | {m['unit']} | {vals} |")
    for k in ("setup_s", "wall_s", "query_p50_s", "query_tail_s"):
        vals = " | ".join(f"{records[w]['end_to_end'][k]:.4g}" for w in ws)
        lines.append(f"| {k} (untraced) | s | {vals} |")
    lines += ["", "## Does the chosen layer do most of the work?", ""]
    for w in ws:
        ok, why = verdict(w, records[w]["per_layer"])
        lines.append(f"- `{w}`: {'yes' if ok else 'no'} — {why}. "
                     f"Panel: {', '.join(records[w]['panel'])}. "
                     f"Tracing overhead {records[w]['per_layer']['trace.overhead_frac']:+.1%} "
                     f"of the untraced pass.")
    prov = records[ws[0]]["provenance"]
    lines += ["", f"Machine: nproc {prov['nproc']}, driver heap {prov['driver_heap_mb']:.0f} MB, "
              f"JDK {prov['jdk']}, Spark {prov['spark']}; source commit {prov['git_commit']}."]
    with open(os.path.join(OUT, "BASELINE.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
