#!/usr/bin/env python3
"""Diff two `graft.Explain` outputs query by query, ignoring run-local ids.

Usage: python3 tools/plan_diff.py <explainA> <explainB>

Each file is the stdout of
`sbt "runMain graft.Explain <query> ..."` (one
`========== <query> ==========` header per query, then its formatted
physical plan), e.g. from a clean copy of the parent commit and from the
change. Before comparing, the values that differ between two runs of the
same plan are masked: expression ids (`#123`), `plan_id=`, JVM lambda
and object-identity hashes, higher-order-function lambda variables
(`x_12`), RDD ids (`MapPartitionsRDD[45]`), UUIDs, source line
numbers (`Eager.scala:57`) and the process id in a query's scratch
directory (`graft_dstream_<pid>_<hash>`, `queries.Shared.tmpPath`);
sbt's `[info]`/`[success]` lines are
dropped. Prints a unified diff per query whose masked
plans differ, and a line per query present in only one file; exits 1 if
anything differs, 0 if every plan is the same.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
# sbt's own lines around a `runMain` (timings, warnings)
SBT_LINE = re.compile(r"^\[(info|success|warn|error)\] ")

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\$\$Lambda[$\w]*/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda@H"),
    (re.compile(r"\$\$Lambda\$\d+/\d+@[0-9a-f]+"), "$$Lambda@H"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_N"),
    (re.compile(r"\b(x|y|z|acc|k|v|l|r|i|e)_\d+(?=#)"), r"\1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}\b"), "UUID"),
    (re.compile(r"\.(scala|java):\d+"), r".\1:N"),
    (re.compile(r"(/graft_\w+?)_\d+_(\d+)\b"), r"\1_PID_\2"),
]


def mask(line):
    for pattern, repl in MASKS:
        line = pattern.sub(repl, line)
    return line


def plans(path):
    """{query: [masked plan lines]} in file order."""
    out, name = {}, None
    with open(path) as fh:
        for raw in fh:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None and not SBT_LINE.match(line):
                out[name].append(mask(line))
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main(a_path, b_path):
    a, b = plans(a_path), plans(b_path)
    if not a and not b:
        print("no '========== <query> ==========' headers in either file")
        return 1
    differ = 0
    for name in list(a) + [n for n in b if n not in a]:
        if name not in b or name not in a:
            where = a_path if name in a else b_path
            print(f"{name}: only in {where}")
            differ += 1
            continue
        diff = list(difflib.unified_diff(a[name], b[name],
                                         f"{a_path}:{name}",
                                         f"{b_path}:{name}", lineterm=""))
        if diff:
            differ += 1
            print("\n".join(diff))
    same = len(set(a) & set(b)) - sum(
        1 for n in set(a) & set(b) if a[n] != b[n])
    print(f"{same} same, {differ} differ or missing")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
