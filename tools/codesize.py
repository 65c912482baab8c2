#!/usr/bin/env python3
"""Lines of code and repeated blocks per Scala file.

Usage:
  python3 tools/codesize.py [root]        (default root: src/main)

For every `.scala` file under `root`, prints:

  - loc: lines of code, i.e. non-blank lines that are not `//` line
    comments or inside `/* ... */` (and `/** ... */`) block comments;
  - dup: duplicated lines, i.e. code lines covered by a window of 6
    consecutive code lines (comments and blanks skipped, leading and
    trailing whitespace ignored) that occurs twice or more anywhere
    under `root`; every copy counts, the first one included.

Then the totals, and the number of distinct environment options the
sources read (`sys.env` keys).
"""
import collections
import os
import re
import sys

WINDOW = 6
_ENV = re.compile(r'sys\.env(?:\.get(?:OrElse)?)?\(\s*"(\w+)"')


def code_lines(path):
    """[(line number, stripped text)] of the code lines of one file."""
    out, in_block = [], False
    with open(path, encoding="utf-8") as f:
        for n, raw in enumerate(f, 1):
            line = raw.strip()
            if in_block:
                if "*/" in line:
                    in_block = False
                continue
            if not line or line.startswith("//"):
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line
                continue
            out.append((n, line))
    return out


def main(argv):
    root = argv[0] if argv else "src/main"
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                   for f in fs if f.endswith(".scala"))
    code = {p: code_lines(p) for p in files}
    seen = collections.Counter()
    for lines in code.values():
        texts = [t for _, t in lines]
        for i in range(len(texts) - WINDOW + 1):
            seen[tuple(texts[i:i + WINDOW])] += 1
    env = set()
    total_loc = total_dup = 0
    print(f"{'loc':>6} {'dup':>5}  file")
    for p in files:
        lines = code[p]
        texts = [t for _, t in lines]
        dup = set()
        for i in range(len(texts) - WINDOW + 1):
            if seen[tuple(texts[i:i + WINDOW])] > 1:
                dup.update(range(i, i + WINDOW))
        for t in texts:
            env.update(_ENV.findall(t))
        total_loc += len(lines)
        total_dup += len(dup)
        print(f"{len(lines):>6} {len(dup):>5}  {os.path.relpath(p, root)}")
    print(f"{total_loc:>6} {total_dup:>5}  total ({len(files)} files)")
    print(f"env options read: {len(env)} ({', '.join(sorted(env))})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
