#!/usr/bin/env python3
"""Exact-count check: runs operator queries through two traced passes in
one session (the listener bus drained after every query) and prints each
query's Spark job, stage and task counts in both passes.

    python3 perfbench/count_check.py gr20_condensation gr19_scc_audit ...

Exits 1 if any count differs between the two passes.
"""
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

KEYS = ("jobs", "stages", "tasks")


def main():
    queries = sys.argv[1:]
    if not queries:
        raise SystemExit(__doc__)
    cp = build.build()
    run_dir = build.out_dir() / "runs" / f"counts-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    jvm = run.Jvm(cp, run_dir, ["ops", run.sf_dir(), run_dir / "results", 0, 1,
                                len(os.sched_getaffinity(0)), ",".join(queries)])
    try:
        _, res = jvm.wait("trace", 3600)
    finally:
        jvm.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    differ = 0
    print(f"{'query':28} {'pass A jobs/stages/tasks':>26} {'pass B':>16}")
    for a, b in zip(res["traced"], res["repeat"]):
        ka = "/".join(str(a["counters"][k]) for k in KEYS)
        kb = "/".join(str(b["counters"][k]) for k in KEYS)
        differ += ka != kb
        print(f"{a['query']:28} {ka:>26} {kb:>16} {'' if ka == kb else 'DIFFERS'}")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
