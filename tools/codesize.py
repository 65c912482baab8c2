#!/usr/bin/env python3
"""Lines of code and repeated blocks per Scala file.

Usage:
  python3 tools/codesize.py [root]        (default root: src/main)
  python3 tools/codesize.py --blocks FILE [root]

For every `.scala` file under `root`, prints:

  - loc: lines of code, i.e. non-blank lines that are not `//` line
    comments or inside `/* ... */` (and `/** ... */`) block comments;
  - dup: duplicated lines, i.e. code lines covered by a window of 6
    consecutive code lines (comments and blanks skipped, leading and
    trailing whitespace ignored) that occurs twice or more anywhere
    under `root`; every copy counts, the first one included.

Then the totals, and the number of distinct environment options the
sources read (`sys.env` keys).

With `--blocks FILE`, prints instead the duplicated code of FILE (which
must lie under `root`), one run of overlapping duplicated windows at a
time: its first and last line numbers, the other places its first window
occurs (`path:line`), and its code lines with their line numbers. The
windows and the comment rules are the ones the totals count.
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


def windows(lines):
    """[(index of first line, window)] of the 6-line windows of a file."""
    texts = [t for _, t in lines]
    return [(i, tuple(texts[i:i + WINDOW]))
            for i in range(len(texts) - WINDOW + 1)]


def blocks(target, root, code, where):
    """Print the runs of duplicated windows of `target`."""
    lines = code[target]
    dup = [i for i, w in windows(lines) if len(where[w]) > 1]
    runs = []
    for i in dup:
        if runs and i <= runs[-1][1]:
            runs[-1][1] = i + WINDOW
        else:
            runs.append([i, i + WINDOW])
    for a, b in runs:
        first = tuple(t for _, t in lines[a:a + WINDOW])
        others = [f"{os.path.relpath(p, root)}:{lines_[j][0]}"
                  for p, j in where[first]
                  for lines_ in [code[p]] if (p, j) != (target, a)]
        print(f"lines {lines[a][0]}-{lines[b - 1][0]}"
              f" ({b - a} code lines; first window also at "
              f"{', '.join(others)})")
        for n, t in lines[a:b]:
            print(f"{n:>6}  {t}")
    print(f"{len(runs)} runs, "
          f"{len(set(j for i in dup for j in range(i, i + WINDOW)))}"
          " duplicated lines")
    return 0


def main(argv):
    target = None
    if argv[:1] == ["--blocks"]:
        if len(argv) < 2:
            print(__doc__, file=sys.stderr)
            return 2
        target, argv = argv[1], argv[2:]
    root = argv[0] if argv else "src/main"
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                   for f in fs if f.endswith(".scala"))
    code = {p: code_lines(p) for p in files}
    where = collections.defaultdict(list)
    for p, lines in code.items():
        for i, w in windows(lines):
            where[w].append((p, i))
    seen = collections.Counter({w: len(ps) for w, ps in where.items()})
    if target is not None:
        match = [p for p in files if os.path.exists(target)
                 and os.path.samefile(p, target)]
        if not match:
            print(f"{target}: not a .scala file under {root}",
                  file=sys.stderr)
            return 2
        return blocks(match[0], root, code, where)
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
