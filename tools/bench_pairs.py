#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, summarized against BENCHMARK.json.

    python3 tools/bench_pairs.py PARENT CHANGE --workload serve --pairs 10 --seed 100
    python3 tools/bench_pairs.py HEAD~1 HEAD --workload serve --workload stream \\
        --pairs 6 --seed 400 --claim serve:tail_ms --json pairs.json

PARENT and CHANGE are any git tree-ish: a commit, or for uncommitted work
the tree id `git add -A && git write-tree` prints. Each is exported with
`git archive` into its own temporary directory, so both sides build from
their recorded files only. Pair i runs `python3 perfbench/run.py --workload
W --seed SEED+i --seconds N` once on each side (N defaults to the
benchmark's `run_seconds`), the parent first on even i and the change first
on odd i. Per workload and end-to-end metric it prints each side's median and
quartiles, how many pairs the change won (ties count for neither side), and the bound check: the
change's median may be worse than the parent's by at most `bound` times the
parent's median, and each side's quartile spread must stay inside that same
allowance. Failed operations are compared as a share of those attempted.
`--claim WORKLOAD:METRIC` adds the gain test: the change wins at least nine
of ten pairs and the medians differ by more than the parent's quartile spread.

Only BENCHMARK.json and the result lines of the runs are read; nothing in the
checkouts is changed. The exit status is 1 when a bound or a claim fails.
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


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; its result JSON, or None when the run failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith('{"correct"')]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    s = sorted(xs)

    def q(p):
        i = p * (len(s) - 1)
        lo = int(i)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (i - lo)
    return q(0.25), q(0.5), q(0.75)


def summarize(workload, pairs, spec, claims):
    """Print one workload's table; returns the number of failed checks."""
    bad = 0
    ok_pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
    print(f"\n== {workload}: {len(ok_pairs)} of {len(pairs)} pairs completed ==")
    if len(ok_pairs) < len(pairs):
        bad += 1
    if not ok_pairs:
        return bad
    for side, i in (("parent", 0), ("change", 1)):
        att = sum(pair[i]["attempted"] for pair in ok_pairs)
        fail = sum(pair[i]["failed"] for pair in ok_pairs)
        wrong = sum(not pair[i]["correct"] for pair in ok_pairs)
        print(f"{side}: {fail} of {att} operations failed, "
              f"{wrong} runs not correct")
    share = [sum(pr[i]["failed"] for pr in ok_pairs) /
             max(1, sum(pr[i]["attempted"] for pr in ok_pairs)) for i in (0, 1)]
    if share[1] > share[0] or any(not pr[1]["correct"] for pr in ok_pairs):
        print("FAIL: the change fails a larger share of operations")
        bad += 1
    print(f"{'metric':<12} {'parent q1/med/q3':>26} {'change q1/med/q3':>26}"
          f" {'wins':>6} {'bound':>6}  verdict")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        vals = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                for p, c in ok_pairs if name in p["metrics"]]
        if not vals:
            continue
        pq = quartiles([v[0] for v in vals])
        cq = quartiles([v[1] for v in vals])
        wins = sum((c < p) if lower else (c > p) for p, c in vals)
        allow = m["bound"] * abs(pq[1])
        worse = (cq[1] - pq[1]) if lower else (pq[1] - cq[1])
        verdict = []
        if worse > allow:
            verdict.append("WORSE than bound")
        if pq[2] - pq[0] > allow or cq[2] - cq[0] > allow:
            verdict.append("spread too wide")
        if (workload, name) in claims:
            gain = -worse
            need = -(-len(vals) * 9 // 10)
            if wins >= need and gain > pq[2] - pq[0]:
                verdict.append("claim met")
            else:
                verdict.append(f"claim NOT met (needs {need} wins and a "
                               f"gain above {pq[2] - pq[0]:.4g})")
        bad += sum(v != "claim met" for v in verdict)
        fmt = "{:.4g}/{:.4g}/{:.4g}"
        print(f"{name:<12} {fmt.format(*pq):>26} {fmt.format(*cq):>26}"
              f" {wins:>3}/{len(vals):<2} {m['bound']:>6}  "
              f"{', '.join(verdict) or 'ok'}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", help="git revision of the parent")
    ap.add_argument("change", help="git revision of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True,
                    help="pair i runs seed SEED+i on both sides")
    ap.add_argument("--seconds", type=int,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--claim", action="append", default=[],
                    metavar="WORKLOAD:METRIC")
    ap.add_argument("--json", help="write every run's result here")
    ap.add_argument("--workdir", help="where the checkouts go "
                    "(default: a new temporary directory, removed at the end)")
    args = ap.parse_args()
    claims = {tuple(c.split(":", 1)) for c in args.claim}

    work = args.workdir or tempfile.mkdtemp(prefix="bench_pairs-")
    sides = {"parent": os.path.join(work, "parent"),
             "change": os.path.join(work, "change")}
    try:
        for side, rev in (("parent", args.parent), ("change", args.change)):
            export(rev, sides[side])
        with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        seconds = args.seconds or spec["run_seconds"]
        runs, bad = {}, 0
        for w in args.workload:
            pairs = []
            for i in range(args.pairs):
                seed = args.seed + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                got = {}
                for side in order:
                    got[side] = run_once(sides[side], w, seed, seconds)
                    r = got[side]
                    brief = ("FAILED" if r is None else " ".join(
                        f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                        for m in spec["end_to_end"] if m["name"] in r["metrics"]))
                    print(f"[{w} pair {i} seed {seed}] {side}: {brief}",
                          file=sys.stderr, flush=True)
                pairs.append((got["parent"], got["change"]))
            runs[w] = [{"seed": args.seed + i, "parent": p, "change": c}
                       for i, (p, c) in enumerate(pairs)]
            bad += summarize(w, pairs, spec, claims)
        if args.json:
            with open(args.json, "w") as fh:
                json.dump({"parent": args.parent, "change": args.change,
                           "seconds": seconds, "runs": runs}, fh, indent=1)
        sys.exit(1 if bad else 0)
    finally:
        if not args.workdir:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
