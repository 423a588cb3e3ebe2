#!/usr/bin/env python3
"""Main-code declarations that only tests reference.

    python3 tools/test_only_defs.py           # run from the repository root

Lists each `def` or `val` declared in a `.scala` file under `src/main`
whose name is referenced under `src/test`, but nowhere else in
`src/main` (its own declaration excluded) and nowhere in `perfbench/src`.
Such a declaration is test-only code living in main: move it to test
scope, delete it with its specs, or keep it on purpose (a reference
implementation that specs compare the engine against stays in main).
The tool only reports; its exit status is 0 whatever it finds.

A reference is a whole-word occurrence of the name in code: comments and
plain string literals are skipped, interpolated strings (`s"..."`,
`f"..."`, `raw"..."`) count as code. Matching is by name alone, so a name
declared twice in main, or reused by an unrelated identifier, reads as
referenced and is not reported. Overrides and names the compiler calls
implicitly (`apply`, `unapply`, `update`, `main`, ...) are never reported.
A group of declarations that only tests enter shows only its entry points:
the helpers they call are referenced from main. Output is one `path:line kind name  (N refs in M test files)` line per
declaration, sorted by path and line, then a `total` line.
"""
import os
import re
import signal
import sys

DECL = re.compile(r"\b(override\s+)?(?:(?:lazy\s+)?(val)|(def))\s+([A-Za-z_][A-Za-z0-9_]*)")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
IMPLICIT = {"apply", "unapply", "unapplySeq", "update", "main",
            "toString", "equals", "hashCode"}


def scala_files(root):
    if not os.path.isdir(root):
        return []
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                  for f in fs if f.endswith(".scala"))


def code_of(text):
    """`text` with comments and plain string literals blanked out.

    Newlines are kept, so offsets map to the same line numbers.
    """
    out = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", text[i:j]))
            i = j
        elif c == '"':
            interpolated = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            quote = '"""' if text.startswith('"""', i) else '"'
            j = i + len(quote)
            while j < n and not text.startswith(quote, j):
                j += 2 if text[j] == "\\" and quote == '"' else 1
            if quote == '"""':  # a closing """ may run on: """"
                while text.startswith('""""', j):
                    j += 1
            j = min(n, j + len(quote))
            body = text[i:j]
            out.append(body if interpolated else re.sub(r"[^\n]", " ", body))
            i = j
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 3 if text[i + 1] == "\\" else i + 2)
            j = n if j < 0 else j + 1
            out.append(" " * (j - i))  # a char literal such as '"'
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def token_counts(files):
    """name -> {file: count} over the code of `files`."""
    counts = {}
    for f in files:
        with open(f, encoding="utf-8", errors="replace") as fh:
            for name in IDENT.findall(code_of(fh.read())):
                per = counts.setdefault(name, {})
                per[f] = per.get(f, 0) + 1
    return counts


def main(argv):
    if argv:
        sys.exit(__doc__)
    main_files = scala_files("src/main")
    if not main_files:
        sys.exit("test_only_defs.py: no src/main here; run from the repository root")
    main_refs = token_counts(main_files)
    test_refs = token_counts(scala_files("src/test"))
    other_refs = token_counts(scala_files("perfbench/src"))
    found = []
    for f in main_files:
        with open(f, encoding="utf-8", errors="replace") as fh:
            code = code_of(fh.read())
        for m in DECL.finditer(code):
            override, val, _, name = m.groups()
            if override or name in IMPLICIT:
                continue
            # the declaration's own token is the one main reference allowed
            if sum(main_refs.get(name, {}).values()) > 1 or name in other_refs:
                continue
            tests = test_refs.get(name, {})
            if tests:
                line = code.count("\n", 0, m.start()) + 1
                found.append((f, line, val or "def", name,
                              sum(tests.values()), len(tests)))
    for f, line, kind, name, refs, nfiles in found:
        print(f"{f}:{line} {kind} {name}  ({refs} refs in {nfiles} test files)")
    print(f"total {len(found)} declarations referenced only by tests")


if __name__ == "__main__":
    # die quietly when the reader closes the pipe (`| head`), as
    # wc and awk do, instead of raising BrokenPipeError
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    main(sys.argv[1:])
