#!/usr/bin/env python3
"""Compare two `BenchOne --explain` outputs query by query.

    python3 tools/plan_diff.py <parent_explain> <change_explain>

Each input is the stdout of `runMain graft.BenchOne --explain <names...>`:
a `[benchone] <name> plan:` line, then that query's formatted AQE-final
plan, up to the next `[benchone]` line. A query that failed
(`[benchone] <name> FAILED: ...`) is kept as its failure line.

Before comparing, each plan is normalized for identifiers that differ
between two runs of the same code:
  - expression ids (`#123`, `obj#45`);
  - whole-stage codegen ids (`[codegen id : 3]`, `WholeStageCodegen (3)`);
  - exchange plan ids (`plan_id=9350`);
  - query-stage ids (the `Arguments: 3` of a `(15) BroadcastQueryStage`
    node): AQE numbers stages in the order they materialize, and
    concurrent stages finish in any order;
  - typed-map lambda instances (`Dedup$$$Lambda/0x7fd8...@9124278`);
  - RDD ids and call sites of checkpointed frames
    (`MapPartitionsRDD[442] at localCheckpoint at Dedup.scala:417`):
    the id counts the RDDs made earlier in the run, and the line moves
    with any edit above it.
graft's own log lines, which share stdout with the plans, are dropped.
Nothing else is normalized: an operator, an argument, a column name or
a literal that differs is reported.

Prints a unified diff for each query whose plans differ, and each query
found in only one file. Exits 1 if any differs, else 0.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^\[benchone\] (\S+) plan:$")
NODE = re.compile(r"^\(\d+\) (\w+)")
STAGE_ID = re.compile(r"^Arguments: \d+$")
FAILED = re.compile(r"^\[benchone\] (\S+) FAILED")
LOG = re.compile(r"^\d{4}-\d\d-\d\dT\S+ (INFO|WARN|ERROR) ")

RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"WholeStageCodegen \(\d+\)"), "WholeStageCodegen (N)"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\$\$Lambda[^\s,\]]*"), "$$Lambda"),
    (re.compile(r"RDD\[\d+\] at (\w+) at ([\w.$]+):\d+"), r"RDD[N] at \1 at \2:N"),
]


def normalize(line):
    for pat, rep in RULES:
        line = pat.sub(rep, line)
    return line.rstrip()


def plans(path):
    """{query: [normalized plan lines]} in file order."""
    out, cur, node = {}, None, ""
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                cur = out.setdefault(m.group(1), [])
                continue
            m = FAILED.match(line)
            if m:
                out[m.group(1)] = [line]
                cur = None
                continue
            if line.startswith("[benchone]"):
                cur = None
            elif cur is not None and not LOG.match(line):
                m = NODE.match(line)
                if m:
                    node = m.group(1)
                elif node.endswith("QueryStage") and STAGE_ID.match(line):
                    line = "Arguments: N"
                cur.append(normalize(line))
    return {q: [l for l in ls if l] for q, ls in out.items()}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    differ = 0
    for q in list(a) + [q for q in b if q not in a]:
        if q not in b or q not in a:
            differ += 1
            print(f"{q}: only in {argv[1] if q in a else argv[2]}")
            continue
        if a[q] != b[q]:
            differ += 1
            print(f"{q}: plans differ")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                a[q], b[q], argv[1], argv[2], lineterm="", n=2))
    print(f"{len(set(a) | set(b)) - differ} same, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
