#!/usr/bin/env python3
"""Compare the DuckDB oracle SQL of two revisions, query by query.

    python3 tools/oracle_sql_diff.py PARENT CHANGE
    python3 tools/oracle_sql_diff.py HEAD~1 "$(git add -A && git write-tree)" \\
        --workdir /tmp/oracle_diff

PARENT and CHANGE are any git tree-ish. Each is exported with `git archive`
into its own directory (as tools/bench_pairs.py does), and in each checkout
`SPARK_GRAFT_ONLY=none sbt "runMain graft.Verify <sf> <out>"` writes
`oracle_sql.json` without running a query, so no table is read and `<sf>`
is a placeholder. Every key whose SQL string differs (or that one side
lacks) is printed; the exit status is 1 if any does. A refactor of the
oracle SQL builders should report no difference.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile


def export(rev, dest):
    """`git archive` of `rev` unpacked into `dest`."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", "--format=tar", rev],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def oracle_sql(checkout, out):
    """The `oracle_sql.json` mapping that `graft.Verify` writes in `checkout`."""
    env = dict(os.environ, SPARK_GRAFT_ONLY="none")
    p = subprocess.run(["sbt", "-batch", f"runMain graft.Verify {out} {out}"],
                       cwd=checkout, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    path = os.path.join(out, "oracle_sql.json")
    if p.returncode != 0 or not os.path.exists(path):
        sys.stderr.write(p.stdout[-3000:])
        sys.exit(f"oracle_sql_diff.py: graft.Verify failed in {checkout}")
    with open(path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", help="git revision of the parent")
    ap.add_argument("change", help="git revision of the change")
    ap.add_argument("--workdir", help="where the checkouts go "
                    "(default: a new temporary directory, removed at the end)")
    args = ap.parse_args()

    work = args.workdir or tempfile.mkdtemp(prefix="oracle_sql_diff-")
    try:
        sql = {}
        for side, rev in (("parent", args.parent), ("change", args.change)):
            checkout = os.path.join(work, side)
            export(rev, checkout)
            sql[side] = oracle_sql(checkout, os.path.join(work, f"{side}_out"))
        a, b = sql["parent"], sql["change"]
        differ = sorted(k for k in a.keys() | b.keys() if a.get(k) != b.get(k))
        for k in differ:
            print(f"{k}: {'added' if k not in a else 'removed' if k not in b else 'changed'}")
        print(f"{len(differ)} of {len(a.keys() | b.keys())} oracle SQL strings differ")
        sys.exit(1 if differ else 0)
    finally:
        if not args.workdir:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
