#!/usr/bin/env python3
"""Non-comment line count of Scala sources — the "less code" evidence.

Counts every line that is not blank, not a `//` line and not inside a
`/* ... */` block (scaladoc included). A line that starts with code and
ends in a comment counts as code.

Usage: python3 tools/ncloc.py <file or directory>...
A directory stands for every `*.scala` file under it, at any depth.
Prints one `<count>  <file>` line per file, then `<total>  total`.
"""
import os
import sys


def ncloc(path):
    n, in_block = 0, False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                in_block = "*/" not in s
            elif s.startswith("/*"):
                in_block = "*/" not in s[2:]
            elif s and not s.startswith("//"):
                n += 1
    return n


def files(path):
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                      for f in fs if f.endswith(".scala"))
    sys.exit(f"ncloc.py: no such file or directory: {path}")


def main(args):
    if args[:1] in (["-h"], ["--help"]):
        print(__doc__)
        return
    if not args:
        sys.exit(__doc__)
    paths = [f for a in args for f in files(a)]
    total = 0
    for p in paths:
        n = ncloc(p)
        total += n
        print(f"{n:6d}  {p}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
