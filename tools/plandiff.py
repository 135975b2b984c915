#!/usr/bin/env python3
"""Compare two `graft.Plans --out` directories.

    python3 tools/plandiff.py DIR_A DIR_B

Each directory holds one `<query>_<suffix>.txt` per query; files pair by
query name, so the suffixes may differ (`_before` against `_after`).
Run-specific text is normalized before comparing: temp paths
(`/tmp/graft_*<digits>`), Catalyst expression ids (`#<n>`), the session
counters a plan prints (exchange `plan_id=<n>`, `RDD[<n>]`, lambda
variables `x_<n>`), the call site of a checkpointed scan
(`<File>.scala:<line>`) and, in data file names, the task attempt id
and the write's UUID (`part-<task>-[<attempt>-]<uuid>`). Prints a unified diff per differing query and
the queries that match only after normalization. Exits 1 on any
difference, or on a query present on one side only; 0 otherwise.
"""
import difflib
import re
import sys
from pathlib import Path

RULES = [
    (re.compile(r"/tmp/graft_\w*\d"), "/tmp/graft_*"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(lambda \w+?_)\d+"), r"\1N"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"(part-\d+-)(\d+-)?[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"),
     r"\1UUID"),
]


def normalize(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text


def dumps(d):
    return {p.stem.rsplit("_", 1)[0]: p
            for p in sorted(Path(d).glob("*.txt"))}


def main(a, b):
    left, right = dumps(a), dumps(b)
    differ, only_normalized = [], []
    for q in sorted(left.keys() ^ right.keys()):
        print(f"only in {a if q in left else b}: {q}")
        differ.append(q)
    for q in sorted(left.keys() & right.keys()):
        ta, tb = left[q].read_text(), right[q].read_text()
        na, nb = normalize(ta), normalize(tb)
        if na != nb:
            differ.append(q)
            sys.stdout.writelines(difflib.unified_diff(
                na.splitlines(True), nb.splitlines(True),
                str(left[q]), str(right[q])))
        elif ta != tb:
            only_normalized.append(q)
    shared = len(left.keys() & right.keys())
    print(f"{shared} paired, {len(differ)} differ, "
          f"{len(only_normalized)} equal only after normalization")
    for q in only_normalized:
        print(f"  normalized: {q}")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
