#!/usr/bin/env python3
"""Pins the result digest (row count + order-insensitive hash) of every
operator query the ops workloads run, and cross-checks each pin once
against the DuckDB oracle SQL of the same query, compared as
tools/selfcheck.py compares (columns by name, rows in any order, exact
values).

    python3 perfbench/pin_digests.py      # rewrites perfbench/digests.json

Run it on the commit whose results are the reference; the benchmark then
checks every run's untimed warm pass against these pins.
"""
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import digest  # noqa: E402
import run  # noqa: E402


def main():
    import duckdb

    queries = sorted({q for w in run.WORKLOADS.values() if w["kind"] == "ops"
                      for q in w["queries"]})
    cp = build.build()
    run_dir = build.out_dir() / "runs" / f"pin-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        jvm = run.Jvm(cp, run_dir / "ops", [
            "ops", run.sf_dir(), run_dir / "results", 0, 0,
            len(os.sched_getaffinity(0)), ",".join(queries)])
        try:
            jvm.wait("warm", 1800)
            pins = {q: digest.of_parquet_dir(run_dir / "results" / q)
                    for q in queries if (run_dir / "results" / q).is_dir()}
        finally:
            jvm.stop()
        jvm = run.Jvm(cp, run_dir / "sql", ["oracle-sql", ",".join(queries)])
        try:
            _, ev = jvm.wait("oracle", 300)
        finally:
            jvm.stop()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    con = duckdb.connect()
    sf = run.sf_dir()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    out = {}
    for q in queries:
        if q not in pins:
            raise SystemExit(f"{q} failed in the warm pass; nothing to pin")
        entry = dict(pins[q])
        sql = ev["sql"].get(q)
        if sql is None:
            entry["oracle"] = "none: the query has no oracle SQL; pinned to its own result"
        else:
            want = digest.of_table(con.execute(sql).arrow())
            entry["oracle"] = "duckdb match" if want == pins[q] else \
                f"MISMATCH duckdb {want}"
        out[q] = entry
        print(q, entry, file=sys.stderr)
    doc = {"tables": Path(sf).name, "queries": out}
    (HERE / "digests.json").write_text(json.dumps(doc, indent=1) + "\n")


if __name__ == "__main__":
    main()
