#!/usr/bin/env python3
"""Per-query job, task and exchange counts from a perfbench traced profile.

Usage: python3 tools/profile_jobs.py <profile.jsonl> [<other.jsonl>]

Reads the `profile.jsonl` a traced perfbench run writes
(`perfbench/.out/<workload>-s<seed>-t1/profile.jsonl`, one row per
traced query execution) and prints, per query, the mean over its traced
executions of the jobs, tasks and exchanges of the build phase (while
the DataFrame is built) and of the exec phase (while it runs), plus a
per-pass total over the queries. Given a second profile, each cell
reads `first -> second (difference)` and the queries of both are listed.
"""
import json
import sys

FIELDS = [(phase, key) for phase in ("build", "exec")
          for key in ("jobs", "tasks", "exchanges")]


def load(path):
    """{query: {(phase, key): mean over its traced executions}}."""
    runs = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                row = json.loads(line)
                runs.setdefault(row["name"], []).append(row)
    return {name: {(p, k): sum(r[p].get(k, 0) for r in rows) / len(rows)
                   for p, k in FIELDS}
            for name, rows in runs.items()}


def fmt(v):
    return f"{v:g}"


def cell(a, b):
    if b is None:
        return fmt(a)
    a = a or 0.0
    return f"{fmt(a)} -> {fmt(b)} ({b - a:+g})"


def main(paths):
    profiles = [load(p) for p in paths]
    names = sorted(set().union(*profiles))
    totals = [{f: sum(q.get(f, 0.0) for q in prof.values()) for f in FIELDS}
              for prof in profiles]
    header = ["query"] + [f"{p}.{k}" for p, k in FIELDS]
    rows = []
    for name in names + ["(per pass)"]:
        qs = totals if name == "(per pass)" else [
            prof.get(name, {}) for prof in profiles]
        rows.append([name] + [
            cell(qs[0].get(f, 0.0), qs[1].get(f, 0.0) if len(qs) > 1 else None)
            for f in FIELDS])
    widths = [max(len(r[i]) for r in rows + [header]) for i in range(len(header))]
    for r in [header] + rows:
        print("  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip())


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__.strip().splitlines()[2])
    main(sys.argv[1:])
