#!/usr/bin/env python3
"""A/B micro-bench harness — the CLAUDE.md discipline, mechanized.

Host contention swings absolute bench numbers 2-3x between sessions, so a
"regression" vs a prior round's BENCH_r{N}.json means nothing without a
back-to-back A/B of both sides in ONE session. This tool does exactly
that: check each side out into its own directory, run the same work on
both, alternating A,B per round, and print a table of medians.
(--workload rounds also alternate which side runs first.)

Usage:
  python3 tools/ab.py <A> <B> <q1,q2,...> \
      [--sf /root/testdata/sf0.1] [--cpus 32] [--rounds 3]
  python3 tools/ab.py <A> <B> --workload k8s_large \
      [--seeds 1,2,3] [--seconds 10] [--trace]

The first form runs the query list through graft.Bench
(SPARK_GRAFT_BENCH_ONLY) and compares per-query seconds. The second runs
`perfbench/run.py --workload <name> --seed <s> --trace 0` once per seed
on each side and compares the medians of the end-to-end metrics. With
--trace it then makes one `--trace 1` run per side (first seed) and
prints its engine and source counters side by side.

A side is a git ref (HEAD, HEAD~1, a sha, a branch), checked out in a
git worktree under /tmp/graft_ab_<shortsha> that is reused across
invocations (delete it to force a fresh checkout; `git worktree prune`
afterwards), or a directory holding a checkout, used in place (e.g. `.`
for the uncommitted working tree).
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def sh(cmd, cwd=None, env=None, capture=False):
    return subprocess.run(
        cmd, cwd=cwd, env=env, check=True,
        stdout=subprocess.PIPE if capture else None,
        stderr=subprocess.STDOUT if capture else None, text=True)


def checkout(side):
    """(label, directory) of one side: a directory as is, else a
    worktree of the git ref."""
    if Path(side).is_dir():
        d = Path(side).resolve()
        return d.name, d
    sha = sh(["git", "rev-parse", "--short", side], cwd=REPO,
             capture=True).stdout.strip()
    wt = Path(f"/tmp/graft_ab_{sha}")
    if not wt.exists():
        sh(["git", "worktree", "add", "--detach", str(wt), sha], cwd=REPO)
    return sha, wt


def run_bench(wt, queries, sf, cpus):
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=cpus,
               SPARK_GRAFT_BENCH_ONLY=",".join(queries))
    if sf:
        env["SPARK_GRAFT_SF_DIR"] = sf
    out = sh(["sbt", "-batch", "runMain graft.Bench"], cwd=wt, env=env,
             capture=True).stdout
    for line in out.splitlines():
        # r14 lines lead with "metric" (driver contract), pre-r14 with
        # "queries" — match either, A/B worktrees span both formats.
        m = re.search(r'\{"(?:queries|metric)":.*\}\s*$', line)
        if m:
            return json.loads(m.group(0))["queries"]
    sys.exit(f"[ab] no bench JSON line in output from {wt}:\n{out[-3000:]}")


# per-layer counters compared by --trace
TRACE_COUNTERS = ["spark.jobs", "spark.tasks", "spark.shuffle_write_bytes",
                  "sources.records_read", "sources.load_ms",
                  "sources.refresh_ms"]


def run_workload(wt, workload, seed, seconds, trace=0):
    """The last stdout line of one perfbench run: {correct, attempted,
    failed, metrics: {name: {value, unit}}}."""
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=wt, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"[ab] perfbench failed in {wt}:\n{r.stderr[-3000:]}")
    return json.loads(lines[-1])


def queries_ab(args, a, b):
    queries = args.queries.split(",")
    (sha_a, wt_a), (sha_b, wt_b) = a, b
    for sha, wt in (a, b):
        print(f"[ab] compiling {sha} in {wt} ...", flush=True)
        sh(["sbt", "-batch", "compile"], cwd=wt, capture=True)

    runs_a, runs_b = [], []
    for r in range(args.rounds):
        print(f"[ab] round {r + 1}/{args.rounds}: A={sha_a}", flush=True)
        runs_a.append(run_bench(wt_a, queries, args.sf, args.cpus))
        print(f"[ab] round {r + 1}/{args.rounds}: B={sha_b}", flush=True)
        runs_b.append(run_bench(wt_b, queries, args.sf, args.cpus))

    def med(runs, q):
        vals = [r[q] for r in runs if q in r]
        return statistics.median(vals) if vals else float("nan")

    wq = max(len(q) for q in queries)
    print(f"\n{'query'.ljust(wq)}  A={sha_a:>9}  B={sha_b:>9}   B/A")
    tot_a = tot_b = 0.0
    for q in queries:
        a, b = med(runs_a, q), med(runs_b, q)
        tot_a += a
        tot_b += b
        ratio = b / a if a else float("nan")
        print(f"{q.ljust(wq)}  {a:9.3f}s  {b:9.3f}s  {ratio:5.2f}")
    print(f"{'TOTAL'.ljust(wq)}  {tot_a:9.3f}s  {tot_b:9.3f}s  "
          f"{(tot_b / tot_a if tot_a else float('nan')):5.2f}")
    print(f"[ab] medians of {args.rounds} interleaved rounds; "
          "within ±25% is host noise (CLAUDE.md r5 measurement)")


def workload_ab(args, a, b):
    seeds = [int(s) for s in args.seeds.split(",")]
    runs = ([], [])
    for i, seed in enumerate(seeds):
        # A first in odd rounds, B first in even ones: drift of the host
        # during a session does not favour one side
        for side in (0, 1) if i % 2 == 0 else (1, 0):
            label, wt = (a, b)[side]
            print(f"[ab] round {i + 1}/{len(seeds)} seed {seed}: {label}",
                  flush=True)
            res = run_workload(wt, args.workload, seed, args.seconds)
            runs[side].append(res)
            print("[ab]   " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                + f" failed={res['failed']}/{res['attempted']}", flush=True)

    names = list(runs[0][0]["metrics"])
    wn = max(len(n) for n in names)
    def quartiles(rs, n):
        vals = [r["metrics"][n]["value"] for r in rs]
        if len(vals) < 2:
            return vals[0], vals[0], vals[0]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        return q1, statistics.median(vals), q3

    print(f"\n{args.workload}, seeds {args.seeds}: median [q1, q3]\n"
          f"{'metric'.ljust(wn)}  {'A=' + a[0]:>27}  {'B=' + b[0]:>27}   B/A")
    for n in names:
        (a1, va, a3), (b1, vb, b3) = (quartiles(rs, n) for rs in runs)
        unit = runs[0][0]["metrics"][n]["unit"]
        ratio = vb / va if va else float("nan")
        print(f"{n.ljust(wn)}  {va:8.4g} [{a1:7.4g}, {a3:7.4g}]  "
              f"{vb:8.4g} [{b1:7.4g}, {b3:7.4g}]  {ratio:5.2f}  {unit}")
    for label, rs in zip("AB", runs):
        print(f"[ab] {label}: correct {sum(r['correct'] for r in rs)}/"
              f"{len(rs)}, failed {sum(r['failed'] for r in rs)}/"
              f"{sum(r['attempted'] for r in rs)}")
    print(f"[ab] medians of {len(seeds)} interleaved rounds")
    if args.trace:
        traced = [run_workload(wt, args.workload, seeds[0], args.seconds, 1)
                  for _, wt in (a, b)]
        wc = max(len(c) for c in TRACE_COUNTERS)
        print(f"\n{args.workload}, seed {seeds[0]}, --trace 1\n"
              f"{'counter'.ljust(wc)}  {'A=' + a[0]:>14}  {'B=' + b[0]:>14}   B/A")
        for c in TRACE_COUNTERS:
            va, vb = (t["metrics"][c]["value"] for t in traced)
            ratio = vb / va if va else float("nan")
            print(f"{c.ljust(wc)}  {va:14.6g}  {vb:14.6g}  {ratio:5.2f}  "
                  f"{traced[0]['metrics'][c]['unit']}")
        print("[ab] traced: " + ", ".join(
            f"{label} correct {t['correct']} failed {t['failed']}/{t['attempted']}"
            for label, t in zip("AB", traced)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("commit_a", help="git ref or checkout directory")
    ap.add_argument("commit_b", help="git ref or checkout directory")
    ap.add_argument("queries", nargs="?",
                    help="comma-separated SparkEntry query names")
    ap.add_argument("--sf", help="tables dir (default: graft.Bench's, "
                    "SPARK_GRAFT_SF_DIR or its built-in sf0.1 path)")
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--workload",
                    help="a perfbench workload, instead of a query list")
    ap.add_argument("--seeds", default="1,2,3",
                    help="one round per seed (--workload)")
    ap.add_argument("--seconds", type=float, default=10,
                    help="timed phase of each run (--workload)")
    ap.add_argument("--trace", action="store_true",
                    help="also one traced run per side; compare counters "
                    "(--workload)")
    args = ap.parse_args()
    if (args.queries is None) == (args.workload is None):
        ap.error("give either a query list or --workload")
    if args.trace and not args.workload:
        ap.error("--trace needs --workload")

    a = checkout(args.commit_a)
    b = checkout(args.commit_b)
    if args.workload:
        workload_ab(args, a, b)
    else:
        queries_ab(args, a, b)


if __name__ == "__main__":
    main()
