#!/usr/bin/env python3
"""Diff two `graft.tools.PlanDump` output directories, ignoring ids that
change from run to run.

Usage:
    sbt "runMain graft.tools.PlanDump <sfDir> <dirA> a all"
    sbt "runMain graft.tools.PlanDump <sfDir> <dirB> b all"
    python3 tools/plandiff.py <dirA> <dirB>

Files pair up by query name (`<name>_<suffix>.txt`, suffixes may differ).
Before comparing, each plan has its expression ids (`#123`), lambda
variable ids (`lambda x_395`), exchange
plan ids (`plan_id=7`), RDD ids and call-site lines
(`MapPartitionsRDD[61] at localCheckpoint at Pipeline.scala:75`), broadcast ids
(`Broadcast(48)`) and JVM identity hashes (`...$Lambda$67/0x7f..@3a57b850`)
replaced by placeholders. Prints a unified diff per differing query and a
summary line; exits 0 when every plan matches, 1 otherwise.
"""
import difflib
import re
import sys
from pathlib import Path

RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(at [\w$]+\.scala):\d+"), r"\1:N"),
    (re.compile(r"Broadcast\(\d+\)"), "Broadcast(N)"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
]


def normalise(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text


def plans(d):
    return {p.name.rsplit("_", 1)[0]: p for p in Path(d).glob("*.txt")}


def main(a_dir, b_dir):
    a, b = plans(a_dir), plans(b_dir)
    only = sorted(set(a) ^ set(b))
    for name in only:
        print(f"only in {'A' if name in a else 'B'}: {name}")
    differ = []
    for name in sorted(set(a) & set(b)):
        x = normalise(a[name].read_text()).splitlines()
        y = normalise(b[name].read_text()).splitlines()
        if x != y:
            differ.append(name)
            sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
                x, y, f"A/{name}", f"B/{name}", n=1, lineterm=""))
    print(f"[plandiff] {len(set(a) & set(b))} compared, {len(differ)} differ, "
          f"{len(only)} unpaired")
    return 1 if differ or only else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
