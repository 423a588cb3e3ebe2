#!/usr/bin/env python3
"""Line counts of Scala sources: raw lines and code lines per file, plus a total.

    python3 tools/loc.py                      # every .scala file under src/main
    python3 tools/loc.py src/main/scala/graft/store src/main/scala/graft/Bench.scala

A code line is neither blank nor a comment line: the same rule as
    awk '!/^[[:space:]]*$/ && !/^[[:space:]]*(\\/\\/|\\/\\*|\\*)/'
so a line that starts with `//`, `/*` or `*` after leading whitespace does
not count. Directories are walked for `.scala` files; files named on the
command line are counted whatever their extension. Output is one
`raw code path` line per file, sorted by path, then a `total` line.
"""
import os
import re
import signal
import sys

NOT_CODE = re.compile(r"^\s*$|^\s*(//|/\*|\*)")


def files_under(path):
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        sys.exit(f"loc.py: no such file or directory: {path}")
    return [os.path.join(d, f) for d, _, fs in os.walk(path)
            for f in fs if f.endswith(".scala")]


def count(path):
    with open(path, encoding="utf-8", errors="replace") as fh:
        lines = fh.read().splitlines()
    return len(lines), sum(1 for line in lines if not NOT_CODE.match(line))


def main(argv):
    paths = argv or ["src/main"]
    files = sorted({f for p in paths for f in files_under(p)})
    raw_total = code_total = 0
    for f in files:
        raw, code = count(f)
        raw_total += raw
        code_total += code
        print(f"{raw:7d} {code:7d} {f}")
    print(f"{raw_total:7d} {code_total:7d} total ({len(files)} files)")


if __name__ == "__main__":
    # die quietly when the reader closes the pipe (`| head`), as
    # wc and awk do, instead of raising BrokenPipeError
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    main(sys.argv[1:])
