#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <etl|iterative|curation> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Steps:

1. build the engine and the harness from source (`perfbench/build.py`);
2. generate the workload's tables once per checkout
   (`perfbench/datagen.py`: the project's seed-42 test data, reproduced);
3. draw the panel from the workload's pool (`perfbench/pools.json`) with
   `--seed`: one query from each stratum, in a seed-shuffled order;
4. run `perfbench.Harness` on `local[nproc]`: set-up (session start and
   one warm pass), a fixed number of timed passes sized by `--seconds`,
   and with `--trace 1` traced passes plus the layer probes;
5. check every panel result against DuckDB running its
   `SparkEntry.oracleSql` (via `tools/check_oracle.py`), and each
   rows-only query's paired gate;
6. print one provenance record line, then the result line
   (`correct`, `attempted`, `failed`, `metrics`) last.

Everything is written under `perfbench/.build`, `perfbench/.data` and
`perfbench/.out`.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DEADLINE_S = 170.0
TAIL_MIN_BEYOND = 10
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def load_pools():
    with open(os.path.join(HERE, "pools.json")) as fh:
        return json.load(fh)


def draw_panel(pool, seed):
    """One query from each stratum, then shuffle."""
    rng = random.Random(seed)
    panel = [rng.choice(stratum) for stratum in pool["strata"]]
    rng.shuffle(panel)
    return panel


def passes(pool, seconds):
    """Timed passes for a `seconds` window: the window is sized by the
    pool's nominal pass time on a 4-core box, so every run of a
    workload takes the same number of samples."""
    return max(2, round(seconds / pool["pass_s"]))


def tail(values):
    """The highest percentile with TAIL_MIN_BEYOND samples beyond it,
    i.e. the (TAIL_MIN_BEYOND + 1)-th largest value, as (percentile,
    value); (None, max) when there are too few samples."""
    n = len(values)
    if n <= TAIL_MIN_BEYOND:
        return None, max(values)
    return 100.0 * (n - TAIL_MIN_BEYOND) / n, sorted(values)[n - TAIL_MIN_BEYOND - 1]


def ensure_data(sf):
    """The workload's tables, regenerated when `datagen.py` changed."""
    d = os.path.join(HERE, ".data", f"sf{sf}")
    done = os.path.join(d, "_DONE")
    with open(os.path.join(HERE, "datagen.py"), "rb") as fh:
        stamp = hashlib.sha256(fh.read()).hexdigest()
    if not os.path.exists(done) or open(done).read() != stamp:
        shutil.rmtree(d, ignore_errors=True)
        sys.path.insert(0, HERE)
        import datagen
        datagen.generate(d, float(sf))
        with open(done, "w") as fh:
            fh.write(stamp)
    return d


def source_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return None


def run_harness(classes, cfg, out_dir, budget_s):
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cfg_path = os.path.join(out_dir, "config.properties")
    with open(cfg_path, "w") as fh:
        for k, v in cfg.items():
            fh.write(f"{k}={v}\n")
    import build
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # the driver heap the repository runs the engine with (build.sbt)
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens + ["-cp", cp, "perfbench.Harness", cfg_path])
    log = os.path.join(out_dir, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {budget_s:.0f}s; log: {log}")
        finally:
            # never leave the JVM behind, whatever ended the wait
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(cfg["result"]):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-3000:])
        fail(f"harness exited {rc}; log: {log}")
    with open(cfg["result"]) as fh:
        return json.load(fh)


def check_outputs(sf_dir, check_dir, panel, gates, budget_s):
    """Run tools/check_oracle.py on the dumped results; return
    (per-name verdict, mismatching names)."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        sf_dir, check_dir], cwd=ROOT, text=True,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=budget_s)
    verdict = {}
    for line in r.stdout.splitlines():
        s = line.strip()
        for tag, v in (("[PASS] ", "pass"), ("[FAIL] ", "fail"), ("[rows-only] ", "rows-only")):
            if s.startswith(tag):
                verdict[s[len(tag):].split(":")[0]] = v
    bad = []
    for q in panel:
        v = verdict.get(q)
        if v == "rows-only":
            g = gates.get(q)
            if g is None or verdict.get(g) != "pass" or not gate_true(check_dir, g):
                bad.append(q)
        elif v != "pass":
            bad.append(q)
    if bad:
        sys.stderr.write(r.stdout[-4000:])
    return verdict, bad


def gate_true(check_dir, gate):
    """A gate passes when every boolean column of every row is true."""
    import duckdb
    rel = duckdb.sql(f"SELECT * FROM '{check_dir}/{gate}/*.parquet'")
    bools = [c for c, t in zip(rel.columns, rel.types) if str(t) == "BOOLEAN"]
    rows = rel.fetchall()
    if not bools or not rows:
        return False
    idx = [rel.columns.index(c) for c in bools]
    return all(row[i] is True for row in rows for i in idx)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", help="scale factor override (self-test)")
    ap.add_argument("--panel", help="comma-separated panel in place of the draw (self-test)")
    args = ap.parse_args()
    t_start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found; run from the root of a repository checkout")
    pools = load_pools()["workloads"]
    if args.workload not in pools:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(pools)}")
    pool = pools[args.workload]

    sys.path.insert(0, HERE)
    import build
    classes, src_stamp, build_s = build.build()
    sf = args.sf or pool["sf"]
    sf_dir = ensure_data(sf)

    panel = args.panel.split(",") if args.panel else draw_panel(pool, args.seed)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    out_dir = os.path.join(HERE, ".out", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    cfg = {
        "sf_dir": sf_dir, "panel": ",".join(panel), "sink": pool["sink"],
        "passes": passes(pool, args.seconds), "trace": args.trace, "out_dir": out_dir,
        "cpus": cpus,
        "result": os.path.join(out_dir, "result.json")}
    budget = DEADLINE_S - (time.time() - t_start) - 15.0
    res = run_harness(classes, cfg, out_dir, budget)

    check_dir = os.path.join(out_dir, "check")
    budget = max(5.0, DEADLINE_S - (time.time() - t_start) - 2.0)
    verdict, mismatched = check_outputs(sf_dir, check_dir, panel, res["gates"], budget)

    samples = res["samples"]
    # every execution counts toward failed/attempted: warm, timed, traced,
    # the untraced passes between traced ones, and the untimed dumps
    executions = (res["warm"] + samples + res["other_executions"]
                  + (res["traced"]["samples"] if args.trace else []))
    threw = {s["name"] for s in executions if s["error"]}
    failed_names = sorted(threw | set(mismatched))
    attempted = len(executions)
    failed = sum(1 for s in executions if s["error"] or s["name"] in failed_names)
    totals = [s["total_s"] for s in samples]
    tail_p, tail_v = tail(totals)
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(res["pass_walls_s"]),
        "query_p50_s": statistics.median(totals),
        "query_tail_s": tail_v,
    }
    spec = load_bench_json()
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "driven": args.workload in {w["name"] for w in spec["workloads"]},
        "not_driven": pool.get("not_driven"),
        "panel": panel, "passes": len(res["pass_walls_s"]),
        "end_to_end": dict(e2e, fail_frac=failed / attempted),
        "units": dict({k: "s" for k in e2e}, fail_frac="1"),
        "query_tail": {"percentile": tail_p, "samples": len(totals),
                       "beyond": TAIL_MIN_BEYOND if tail_p else 0},
        "failed_queries": failed_names, "check": verdict,
        "provenance": {
            "nproc": cpus, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_heap_mb": res["jvm"]["driver_heap_mb"], "jdk": res["jvm"]["jdk"],
            "spark": res["jvm"]["spark"], "sf_dir": os.path.relpath(sf_dir, ROOT),
            "sf": sf, "seed": args.seed, "panel": panel,
            "git_commit": source_commit(), "source_sha256": src_stamp,
            "build_s": build_s},
    }
    if args.trace:
        layers = res["traced"]["layers"]
        record["per_layer"] = layers
        record["tables_scanned"] = res["traced"]["tables_scanned"]
        with open(os.path.join(out_dir, "profile.jsonl"), "w") as fh:
            for q in res["traced"]["per_query"]:
                fh.write(json.dumps(q) + "\n")
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    with open(os.path.join(out_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record))
    print(json.dumps({"correct": not failed_names, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def load_bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    main()
