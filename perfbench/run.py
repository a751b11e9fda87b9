#!/usr/bin/env python3
"""ksqlspark benchmark: one command per workload.

    python3 perfbench/run.py --workload k8s_large --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), makes the inputs
from --seed, drives the program from outside while checking every
output, and prints one JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the full trace under .bench_build/traces). See README.md.
"""
import argparse
import json
import math
import os
import queue
import random
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import digest  # noqa: E402
import k8sgen  # noqa: E402

FIXTURES = ROOT / "src/test/resources/k8s"
SETUP_CYCLES = 3   # snapshot load + first answer, repeated; median reported
FLOOR_PROBES = 40  # GET /api with no query, for server.floor_ms
WARMUP_ROUNDS = 6  # untimed passes over the k8s query mix before timing
REPLAY_OPS = 30    # operations replayed through direct calls when tracing

WORKLOADS = {
    "k8s_small": {"kind": "k8s", "pods": 200, "clients": 1,
                  "refresh_every_s": 0, "fence": True},
    "k8s_large": {"kind": "k8s", "pods": 10000, "clients": 4,
                  "refresh_every_s": 5, "fence": True},
    # k8s_large with queries overlapping refreshes: it fails on a program
    # whose refresh does not swap the views at once
    "k8s_overlap": {"kind": "k8s", "pods": 10000, "clients": 4,
                    "refresh_every_s": 2.5, "fence": False},
    "ops_loops": {"kind": "ops", "queries": [
        "gr18_scc_fwbw", "pp42_publish_lifecycle"]},
    "ops_scan": {"kind": "ops", "queries": [
        "q15_pricing_summary", "q34_top_revenue", "q09_json_access",
        "dd18_simhash_oracle", "dd21_containment_join", "tx19_bm25",
        "tx22_char_diversity", "ss01_topk_bruteforce", "ss12_topk_mips"]},
}

KERNELS = ["simhash64", "md5_simhash_bits", "shingle_hashes64",
           "char_diversity", "text_stats", "float_dot",
           "sorted_intersect_card"]
SPARK_COUNTERS = ["jobs", "stages", "tasks", "task_ms", "gc_ms",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "peak_exec_mem_bytes"]

E2E_UNITS = {"setup_s": "s", "live_heap_mb": "MB", "query_p50_ms": "ms",
             "query_p75_ms": "ms", "query_qps": "1/s", "mix_wall_s": "s",
             "query_geomean_ms": "ms"}
LAYER_UNITS = {
    "server.floor_ms": "ms", "server.wait_ms": "ms",
    "dialect.rewrite_us": "us", "dialect.analyze_ms": "ms",
    "catalyst.plan_ms": "ms",
    "sources.load_ms": "ms", "sources.refresh_ms": "ms",
    "sources.records_read": "count", "sources.read_per_row_out": "ratio",
    "sinks.collect_ms": "ms", "sinks.json_ms": "ms",
    "sinks.rows_out": "count", "sinks.json_bytes": "bytes",
    "operators.build_ms": "ms", "operators.exec_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_ms": "ms", "spark.core_busy_frac": "ratio",
    "spark.gc_ms": "ms", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    **{f"functions.{k}.ns_per_row": "ns" for k in KERNELS},
    "trace.unaccounted_frac": "ratio", "trace.overhead_frac": "ratio",
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def sf_dir() -> str:
    """The tables graft.Bench reads: $SPARK_GRAFT_SF_DIR, else the default
    written in graft.Bench itself."""
    if "SPARK_GRAFT_SF_DIR" in os.environ:
        return os.environ["SPARK_GRAFT_SF_DIR"]
    bench = ROOT / "src/main/scala/graft/Bench.scala"
    m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', bench.read_text())
    if not m:
        raise SystemExit(f"no SPARK_GRAFT_SF_DIR default in {bench}")
    return m.group(1)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * q
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


class Jvm:
    """The harness JVM of one run, isolated in its run directory: its own
    warehouse, Spark local dir, temp dir and working directory."""

    def __init__(self, cp, run_dir: Path, args):
        for d in ("tmp", "local", "warehouse"):
            (run_dir / d).mkdir(parents=True, exist_ok=True)
        cmd = ["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData"]
        for p in JDK17_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                f"-Dspark.sql.warehouse.dir=file:{run_dir / 'warehouse'}",
                f"-Dspark.local.dir={run_dir / 'local'}",
                f"-Djava.io.tmpdir={run_dir / 'tmp'}",
                "-cp", cp, "perfbench.Harness"] + [str(a) for a in args]
        self.log_path = run_dir / "jvm.log"
        self.log = open(self.log_path, "w")
        self.errors = []
        self.events = queue.Queue()
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True)
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("@@pb "):
                self.events.put((time.monotonic(), json.loads(line[5:])))
        self.events.put((time.monotonic(), None))

    def wait(self, event, timeout):
        deadline = time.monotonic() + timeout
        while True:
            try:
                t, e = self.events.get(timeout=max(0.1, deadline - time.monotonic()))
            except queue.Empty:
                raise RuntimeError(f"timed out waiting for {event}")
            if e is None:
                raise RuntimeError(f"harness exited before {event}:\n"
                                   + self.log_path.read_text()[-3000:])
            if e["event"] == "error":
                log(f"error in {e['query']} ({e['phase']}): {e['message'][:300]}")
                self.errors.append(e)
            elif e["event"] == event:
                return t, e

    def stop(self):
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.log.close()


def http_get(url, timeout=120):
    try:
        with urllib.request.urlopen(url, timeout=timeout) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def ask(api, qid, uid):
    """One `GET /api?query=` round trip: (status, body, milliseconds)."""
    sql = k8sgen.QUERIES[qid].format(uid=uid)
    t0 = time.monotonic()
    try:
        status, body = http_get(api + "?" + urllib.parse.urlencode({"query": sql}))
    except OSError as e:
        status, body = 0, str(e).encode()
    return status, body, (time.monotonic() - t0) * 1000


def right(status, body, qid, uid, models):
    """True iff the reply is a 200 carrying the answer of one of `models`."""
    ok = status == 200 and k8sgen.check(body, qid, uid, models)
    if not ok:
        log(f"wrong answer: {qid} status={status} {body[:200]!r}")
    return ok


def control(base, path, **params):
    status, body = http_get(f"{base}{path}?{urllib.parse.urlencode(params)}",
                            timeout=170)
    doc = json.loads(body)
    if status != 200:
        raise RuntimeError(f"{path}: {doc.get('error')}")
    return doc


class Generations:
    """Which snapshot generation a request may see. A request that
    overlaps no refresh must return the current generation's answer; one
    that overlaps a refresh may return either generation's.

    A fenced request never overlaps a refresh: it waits for a pending
    refresh to end, and a refresh waits for fenced requests in flight.
    The program re-registers the views one at a time on refresh, so a
    query over two views that overlaps one can join two generations."""

    def __init__(self):
        self.cond = threading.Condition()
        self.gen, self.started, self.finished = 0, 0, 0
        self.fenced, self.pending = 0, False

    def snapshot(self):
        with self.cond:
            return self.gen, self.started, self.finished

    def fence(self):
        with self.cond:
            while self.pending or self.started != self.finished:
                self.cond.wait()
            self.fenced += 1

    def unfence(self):
        with self.cond:
            self.fenced -= 1
            self.cond.notify_all()

    def begin(self):
        with self.cond:
            self.pending = True
            while self.fenced:
                self.cond.wait()
            self.pending = False
            self.started += 1
            return 1 - self.gen

    def end(self, gen):
        with self.cond:
            self.gen = gen
            self.finished += 1
            self.cond.notify_all()


# ---------------------------------------------------------------- k8s --

def k8s_clients(w, seed, seconds, api, ctl, dirs, models, uids):
    """Closed-loop clients for `seconds`, plus, when `refresh_every_s` is
    set, a refresher that reloads the snapshot on a fixed cadence,
    alternating generations, so every run carries the same write load.
    Returns (query records, refresh records, operation log, elapsed s)."""
    gens = Generations()
    lock = threading.Lock()
    queries, refreshes, oplog = [], [], []
    start = time.monotonic()
    stop_at = start + seconds
    every = w["refresh_every_s"]

    def client(c):
        rng = random.Random(seed * 7919 + c)
        order = list(k8sgen.QUERIES)
        rng.shuffle(order)
        i = 0
        while time.monotonic() < stop_at:
            qid = order[i % len(order)]
            i += 1
            uid = rng.choice(uids) if qid == "q6_uid_lookup" else None
            if w["fence"]:
                gens.fence()
                if time.monotonic() >= stop_at:
                    gens.unfence()
                    break
            s0 = gens.snapshot()
            status, body, dt = ask(api, qid, uid)
            steady = gens.snapshot() == s0 and s0[1] == s0[2]
            if w["fence"]:
                gens.unfence()
            ok = right(status, body, qid, uid,
                       [models[s0[0]]] if steady else models)
            with lock:
                queries.append({"qid": qid, "ms": dt, "ok": ok})
                oplog.append(("Q", k8sgen.QUERIES[qid].format(uid=uid), qid))

    def refresher():
        due = start + every
        while due < stop_at:
            time.sleep(max(0.0, due - time.monotonic()))
            due += every
            target = gens.begin()
            t0 = time.monotonic()
            try:
                control(ctl, "/refresh", dir=dirs[target])
                ok = True
            except Exception as e:  # noqa: BLE001
                log(f"refresh failed: {e}")
                ok = False
            dt = (time.monotonic() - t0) * 1000
            gens.end(target)
            with lock:
                refreshes.append({"ms": dt, "ok": ok})
                oplog.append(("R", str(dirs[target]), None))

    threads = [threading.Thread(target=client, args=(c,))
               for c in range(w["clients"])]
    if every:
        threads.append(threading.Thread(target=refresher))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return queries, refreshes, oplog, time.monotonic() - start


def run_k8s(w, seed, seconds, trace, cp, run_dir):
    gen = k8sgen.Generator(FIXTURES, w["pods"], seed)
    pods = gen.generations(churn=0.02)
    dirs = [run_dir / f"gen{i}" for i in (0, 1)]
    for p, d in zip(pods, dirs):
        gen.write(p, d)
    models = [k8sgen.Model(p) for p in pods]
    uids = sorted(set(models[0].by_uid) | set(models[1].by_uid))

    jvm = Jvm(cp, run_dir, ["k8s"])
    try:
        t_ready, ready = jvm.wait("ready", 150)
        api = f"http://127.0.0.1:{ready['port']}/api"
        ctl = f"http://127.0.0.1:{ready['control']}"
        attempted = failed = 0
        cycles, loads = [], []
        for _ in range(SETUP_CYCLES):
            t0 = time.monotonic()
            loads.append(control(ctl, "/load", dir=dirs[0])["ms"])
            status, body, _ = ask(api, "q1_count_like", None)
            cycles.append(time.monotonic() - t0)
            attempted += 1
            failed += not right(status, body, "q1_count_like", None, models[:1])
        setup_s = (t_ready - jvm.t0) + median(cycles)

        def warm_round(gen):
            nonlocal attempted, failed
            for qid in k8sgen.QUERIES:
                uid = uids[0] if qid == "q6_uid_lookup" else None
                status, body, _ = ask(api, qid, uid)
                attempted += 1
                failed += not right(status, body, qid, uid, [models[gen]])

        # untimed warm-up: every query of the mix, answers checked, then a
        # refresh to each generation, so that timed refreshes run warm
        for _ in range(WARMUP_ROUNDS):
            warm_round(0)
        if w["refresh_every_s"]:
            for gen in (1, 0):
                control(ctl, "/refresh", dir=dirs[gen])
                attempted += 1
                warm_round(gen)

        floor = []
        if trace:
            for _ in range(FLOOR_PROBES):
                t0 = time.monotonic()
                status, _ = http_get(api)
                floor.append((time.monotonic() - t0) * 1000)
                attempted += 1
                failed += status != 400

        queries, refreshes, oplog, elapsed = k8s_clients(
            w, seed, seconds, api, ctl, dirs, models, uids)
        attempted += len(queries) + len(refreshes)
        failed += sum(not q["ok"] for q in queries)
        failed += sum(not r["ok"] for r in refreshes)
        heap = control(ctl, "/heap")["mb"]
        by_q = {}
        for q in queries:
            by_q.setdefault(q["qid"], []).append(q["ms"])
        per_query = {k: median(v) for k, v in by_q.items()}
        log(f"{len(queries)} queries, {len(refreshes)} refreshes, "
            f"{failed} failed, setup cycles {[round(c, 3) for c in cycles]}, "
            f"refresh ms {[round(r['ms']) for r in refreshes]}")
        log("median ms per query: "
            + json.dumps({k: round(v, 1) for k, v in per_query.items()}))
        lat = [q["ms"] for q in queries]
        if not trace:
            return attempted, failed, end_to_end(
                setup_s, heap, lat, elapsed, per_query), None

        replay_file = run_dir / "replay.tsv"
        # the first operations of the timed phase, and its first refresh
        ops = oplog[:REPLAY_OPS]
        first_refresh = [op for op in oplog if op[0] == "R"][:1]
        if first_refresh and first_refresh[0] not in ops:
            ops = ops[:-1] + first_refresh
        replay_file.write_text("".join(f"{k}\t{a}\n" for k, a, _ in ops))
        rep = control(ctl, "/replay", file=str(replay_file))
        control(ctl, "/quit")
        jvm.proc.wait(60)
        layers, report = k8s_layers(rep, ops, per_query, floor, loads)
        report.update({"workload_queries": len(queries),
                       "refreshes": len(refreshes)})
        return attempted, failed, layers, report
    finally:
        jvm.stop()


def end_to_end(setup_s, heap_mb, latencies, elapsed_s, per_query):
    """The end-to-end metrics from a run's per-operation latencies (ms)
    and each query's median latency."""
    return {
        "setup_s": setup_s,
        "live_heap_mb": heap_mb,
        "query_p50_ms": quantile(latencies, 0.5),
        "query_p75_ms": quantile(latencies, 0.75),
        "query_qps": len(latencies) / elapsed_s,
        "mix_wall_s": sum(per_query.values()) / 1000,
        "query_geomean_ms": geomean(list(per_query.values())),
    }


def self_times(spans):
    """Self time of each span (span minus its children), summed by name."""
    out = {}
    for i, s in enumerate(spans):
        own = s["end_ms"] - s["start_ms"]
        own -= sum(c["end_ms"] - c["start_ms"] for c in spans if c["parent"] == i)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def top_level_ms(spans):
    return sum(s["end_ms"] - s["start_ms"] for s in spans if s["parent"] < 0)


def trace_summary(untraced, traced, repeat):
    """Unaccounted wall time of the first traced pass, and the tracing
    overhead: the mean of the two traced passes against the untraced one
    between them."""
    wall_u = sum(r["wall_ms"] for r in untraced)
    wall_t = sum(r["wall_ms"] for r in traced)
    wall_r = sum(r["wall_ms"] for r in repeat)
    covered = sum(top_level_ms(r["spans"]) for r in traced)
    return {"untraced_ms": wall_u, "traced_ms": wall_t, "repeat_ms": wall_r,
            "unaccounted_ms": wall_t - covered,
            "unaccounted_frac": (wall_t - covered) / wall_t,
            "overhead_frac": ((wall_t + wall_r) / 2 - wall_u) / wall_u}


def count_mismatches(names, traced, repeat):
    """Operations whose Spark job/stage/task counts differ between the
    two traced passes."""
    out = {}
    for name, a, b in zip(names, traced, repeat):
        ka = {c: a["counters"][c] for c in ("jobs", "stages", "tasks")}
        kb = {c: b["counters"][c] for c in ("jobs", "stages", "tasks")}
        if ka != kb:
            out[name] = [ka, kb]
    if out:
        log(f"spark counts differ between two traced passes: {out}")
    return out


def spark_means(recs, cores):
    n = max(1, len(recs))
    m = {f"spark.{c}": sum(r["counters"][c] for r in recs) / n
         for c in SPARK_COUNTERS if c != "peak_exec_mem_bytes"}
    m["spark.peak_exec_mem_bytes"] = max(
        (r["counters"]["peak_exec_mem_bytes"] for r in recs), default=0)
    wall = sum(r["wall_ms"] for r in recs)
    m["spark.core_busy_frac"] = (sum(r["counters"]["task_ms"] for r in recs)
                                 / (wall * cores)) if wall else 0.0
    return m


def k8s_layers(rep, ops, http_p50, floor, loads):
    untraced, traced, repeat = rep["untraced"], rep["traced"], rep["repeat"]
    qrecs = [r for op, r in zip(ops, traced) if op[0] == "Q"]
    selfs = [self_times(r["spans"]) for r in qrecs]

    def span_med(name):
        return median([s.get(name, 0.0) for s in selfs])

    # server.wait_ms: HTTP latency of a query minus its direct-call time
    direct = {}
    for (kind, _, qid), r in zip(ops, untraced):
        if kind == "Q":
            direct.setdefault(qid, []).append(r["wall_ms"])
    waits = [http_p50[q] - median(v) for q, v in direct.items() if q in http_p50]
    refresh = [self_times(r["spans"]).get("sources.refresh", 0.0)
               for op, r in zip(ops, traced) if op[0] == "R"]
    rows = sum(r["rows"] for r in qrecs)
    records = sum(r["counters"]["records_read"] for r in qrecs)
    layers = {
        "server.floor_ms": median(floor),
        "server.wait_ms": median(waits),
        "dialect.rewrite_us": span_med("dialect.rewrite") * 1000,
        "dialect.analyze_ms": span_med("dialect.analyze"),
        "catalyst.plan_ms": span_med("catalyst.plan"),
        "sources.load_ms": median(loads),
        "sources.refresh_ms": median(refresh),
        "sources.records_read": records / max(1, len(qrecs)),
        "sources.read_per_row_out": records / max(1, rows),
        "sinks.collect_ms": span_med("sinks.collect"),
        "sinks.json_ms": span_med("sinks.json"),
        "sinks.rows_out": rows / max(1, len(qrecs)),
        "sinks.json_bytes": sum(r["json_bytes"] for r in qrecs) / max(1, len(qrecs)),
    }
    layers.update(spark_means(qrecs, rep["cores"]))
    summ = trace_summary(untraced, traced, repeat)
    layers["trace.unaccounted_frac"] = summ["unaccounted_frac"]
    layers["trace.overhead_frac"] = summ["overhead_frac"]
    names = [f"{i}:{op[2] or 'refresh'}" for i, op in enumerate(ops)]
    report = {"summary": summ,
              "count_mismatches": count_mismatches(names, traced, repeat),
              "ops": [
        {"op": op[0], "query": op[2], "wall_ms": r["wall_ms"],
         "rows": r.get("rows", 0), "self_ms": self_times(r["spans"]),
         "counters": r["counters"]} for op, r in zip(ops, traced)]}
    return layers, report


# ---------------------------------------------------------------- ops --

def run_ops(w, seed, seconds, trace, cp, run_dir):
    order = list(w["queries"])
    random.Random(seed).shuffle(order)
    pinned = json.loads((HERE / "digests.json").read_text())["queries"]
    results = run_dir / "results"
    cpus = len(os.sched_getaffinity(0))
    jvm = Jvm(cp, run_dir, ["ops", sf_dir(), results, seconds,
                            1 if trace else 0, cpus, ",".join(order)])
    try:
        t_warm, warm = jvm.wait("warm", 170)
        setup_s = t_warm - jvm.t0
        attempted, failed = len(order), 0
        rows = {}
        for q in order:
            try:
                got = digest.of_parquet_dir(results / q)
            except Exception as e:  # noqa: BLE001
                got = {"error": str(e)[:200]}
            want = pinned.get(q)
            if want is None or got != {"rows": want["rows"], "hash": want["hash"]}:
                log(f"digest mismatch: {q} got {got} pinned {want}")
                failed += 1
            rows[q] = got.get("rows", 0)
        _, res = jvm.wait("trace" if trace else "timed", 170)
        jvm.proc.wait(60)
    finally:
        jvm.stop()

    if not trace:
        attempted += res["attempted"]
        failed += res["failed"]
        walls = [w for v in res["samples"].values() for w in v]
        per_query = {q: median(v) for q, v in res["samples"].items()}
        elapsed = res["elapsed_ms"] / 1000
        log(f"{len(walls)} executions in {elapsed:.1f}s, {failed} failed; "
            f"session {warm['session_ms']:.0f} ms, warm pass ms "
            + json.dumps({q: round(v) for q, v in warm["query_ms"].items()}))
        log("median ms per query: " + json.dumps({q: round(v) for q, v in per_query.items()}))
        return attempted, failed, end_to_end(
            setup_s, res["live_heap_mb"], walls, elapsed, per_query), None

    attempted += 3 * len(order)
    failed += sum(e["phase"] == "traced" for e in jvm.errors)
    traced = res["traced"]
    plan_ms = sum(r["plan_ms"] for r in traced)
    repeat = res["repeat"]
    mismatches = count_mismatches([r["query"] for r in traced], traced, repeat)
    selfs = [self_times(r["spans"]) for r in traced]
    n = len(traced)
    out_rows = sum(rows.values())
    records = sum(r["counters"]["records_read"] for r in traced)
    layers = {
        "catalyst.plan_ms": plan_ms / n,
        "sources.records_read": records / n,
        "sources.read_per_row_out": records / max(1, out_rows),
        "sinks.rows_out": out_rows / n,
        "operators.build_ms": sum(s.get("operators.build", 0.0) for s in selfs) / n,
        "operators.exec_ms": sum(s.get("operators.exec", 0.0) for s in selfs) / n,
    }
    layers.update(spark_means(traced, res["cores"]))
    layers.update({f"functions.{k}.ns_per_row": res["kernels"][k] for k in KERNELS})
    summ = trace_summary(res["untraced"], traced, repeat)
    layers["trace.unaccounted_frac"] = summ["unaccounted_frac"]
    layers["trace.overhead_frac"] = summ["overhead_frac"]
    report = {"summary": summ, "count_mismatches": mismatches,
              "plan_ms_total": plan_ms, "kernels_ns_per_row": res["kernels"],
              "queries": [{"query": r["query"], "wall_ms": r["wall_ms"],
                           "self_ms": s, "rows": rows.get(r["query"]),
                           "counters": r["counters"],
                           "repeat_counters": b["counters"]}
                          for r, s, b in zip(traced, selfs, repeat)]}
    return attempted, failed, layers, report


# ------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not FIXTURES.is_dir():
        raise SystemExit(f"no program checkout here: {FIXTURES} is missing")
    probs = k8sgen.selftest(FIXTURES)
    if probs:
        raise SystemExit(f"checker self-test failed: {probs}")
    cp = build.build()
    if WORKLOADS[args.workload]["kind"] == "ops" and not Path(sf_dir()).is_dir():
        raise SystemExit(f"no tables at {sf_dir()}")

    out = build.out_dir()
    run_dir = out / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    w = WORKLOADS[args.workload]
    runner = run_k8s if w["kind"] == "k8s" else run_ops
    try:
        attempted, failed, metrics, report = runner(
            w, args.seed, args.seconds, args.trace == 1, cp, run_dir)
    finally:
        (out / "logs").mkdir(exist_ok=True)
        if (run_dir / "jvm.log").exists():
            shutil.copy(run_dir / "jvm.log", out / "logs" / f"{args.workload}.log")
        shutil.rmtree(run_dir, ignore_errors=True)

    if report is not None:
        tdir = out / "traces"
        tdir.mkdir(exist_ok=True)
        path = tdir / f"{args.workload}-seed{args.seed}.json"
        report["workload"] = args.workload
        report["seed"] = args.seed
        report["layers"] = metrics
        path.write_text(json.dumps(report, indent=1))
        log(f"trace written to {path}")
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a layer the workload does not pass through reports 0
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                    for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
