#!/usr/bin/env python3
"""Compare two `graft.PlanDump` output directories row by row.

Usage:
  python3 tools/plandiff.py <dirA> <dirB>

Each directory holds `<query>_<suffix>.txt` files, one suffix per
directory (`runMain graft.PlanDump <outDir> <suffix>`). Before comparing,
every plan is stripped of what changes between two runs of the same code:

  - expression ids (`#123`, `#123L`), lambda variable numbers
    (`lambda x_42`), `plan_id=` values and RDD numbers
    (`MapPartitionsRDD[485]`);
  - lambda and object hashes (`$$Lambda$12/0x..@1a2b`, `$@3aac9173`);
  - `Foo.scala:<line>` call sites;
  - the 32-hex session scope id (staging paths, bucketed table names) and
    the temp dir in front of `graft_ingest/`.

Prints the rows whose stripped plans still differ, apart from them the
rows whose stripped plans hold the same tokens in a different order
(`reordered:`; Catalyst orders the groups of a distinct aggregate by
expression hashes that include expression ids, so such a row can swap
its groups depending on the rows dumped before it in the JVM: dump it
alone on both sides before calling it a change), and the rows present on
one side only. Exits 1 when any row differs, is reordered or is
missing, 0 otherwise.
"""
import collections
import os
import re
import sys

_RULES = [
    (re.compile(r"#\d+L?\b"), "#"),
    (re.compile(r"\b(lambda \w+?)_\d+"), r"\1_"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\$Lambda\$?[\w$]*(/0x[0-9a-f]+)?@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"\$@[0-9a-f]+"), "$@"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:"),
    (re.compile(r"[0-9a-f]{32}"), "<scope>"),
    (re.compile(r"(?:file:)?[^\s\[\],]*/graft_ingest/"), "<tmp>/graft_ingest/"),
]


def strip(text):
    for pat, rep in _RULES:
        text = pat.sub(rep, text)
    return text


def tokens(text):
    """The multiset of a plan's tokens: the text split at whitespace,
    brackets, parentheses and commas."""
    return collections.Counter(re.findall(r"[^\s\[\](),]+", text))


def load(d):
    """{query: path} for one dump dir; the suffix is the part after the
    last underscore and must be the same for every file."""
    files = sorted(f for f in os.listdir(d) if f.endswith(".txt"))
    suffixes = {f[:-4].rsplit("_", 1)[-1] for f in files}
    if len(suffixes) > 1:
        sys.exit(f"plandiff: {d} mixes suffixes {sorted(suffixes)}")
    return {f[:-4].rsplit("_", 1)[0]: os.path.join(d, f) for f in files}


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    a, b = load(argv[0]), load(argv[1])
    only_a, only_b = sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys())
    differ, reordered = [], []
    for q in sorted(a.keys() & b.keys()):
        ta = strip(open(a[q], encoding="utf-8").read())
        tb = strip(open(b[q], encoding="utf-8").read())
        if ta != tb:
            (reordered if tokens(ta) == tokens(tb) else differ).append(q)
    for q in differ:
        print(f"differs: {q}")
    for q in reordered:
        print(f"reordered: {q}")
    for q in only_a:
        print(f"only in A: {q}")
    for q in only_b:
        print(f"only in B: {q}")
    same = len(a.keys() & b.keys()) - len(differ) - len(reordered)
    print(f"== {same} identical, {len(differ)} differ, "
          f"{len(reordered)} reordered, "
          f"{len(only_a)} only in A, {len(only_b)} only in B")
    return 1 if differ or reordered or only_a or only_b else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
