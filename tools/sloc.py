#!/usr/bin/env python3
"""Source lines of `src/main`, per package.

    python3 tools/sloc.py [ROOT]

Counts the non-blank lines of every file under ROOT/src/main (ROOT defaults
to this checkout), leaving out lines that are only a `//` comment and every
line of a `/* ... */` block (scaladoc included). A line that holds code and
a comment counts. Prints one line per package (the file's directory under
`src/main/scala`, dotted), then the total.
"""

import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                    s = s.split("*/", 1)[1].strip()
                else:
                    continue
            if s.startswith("/*"):
                if "*/" not in s[2:]:
                    in_block = True
                    continue
                s = s[2:].split("*/", 1)[1].strip()
            if s and not s.startswith("//"):
                n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    main_dir = os.path.join(root, "src", "main")
    scala_dir = os.path.join(main_dir, "scala")
    per_pkg = {}
    for d, _, files in os.walk(main_dir):
        for name in files:
            rel = os.path.relpath(d, scala_dir if d.startswith(scala_dir) else main_dir)
            pkg = rel.replace(os.sep, ".")
            per_pkg[pkg] = per_pkg.get(pkg, 0) + code_lines(os.path.join(d, name))
    width = max(len(p) for p in per_pkg)
    for pkg in sorted(per_pkg):
        print(f"{pkg:<{width}}  {per_pkg[pkg]:>6,}")
    print(f"{'total':<{width}}  {sum(per_pkg.values()):>6,}")


if __name__ == "__main__":
    main()
