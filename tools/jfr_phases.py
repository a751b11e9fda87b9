#!/usr/bin/env python3
"""Where a ksql request's CPU goes, from a JFR recording.

    python3 tools/jfr_phases.py <recording.jfr> [--threads ksql-http] [--threads ...]

Reads the execution samples of a recording through `jfr print` and
prints, per thread-name pattern (a regular expression searched in the
sampled thread's name), the share of its samples in each phase of a
request:

  parse+analyse    the SQL parser and analyzer (`KsqlDialect.sql`)
  optimise+plan    the optimizer, physical planning, AQE's initial plan
  codegen/rdd      code generation (whole-stage, and the projections and
                   orderings an operator generates when it starts),
                   closure cleaning and compiling: building a plan's RDD
                   (`SparkPlan.execute`)
  rows             computing the rows: RDD iteration, hash-join builds,
                   the row deserializer, `df.collect()`
  render           the JSON and ASCII sinks (`graft.sinks.Render`)
  other            everything else (HTTP, locks, the cache lookup)

A sample belongs to the phase of the innermost frame that names one, so
an expression evaluated while iterating rows counts as rows, and the
same expression's code being generated counts as codegen. Stacks that
JFR cut short (its default depth is 64; record with
`-XX:FlightRecorderOptions=stackdepth=256`) are counted and reported,
as their phase may be missing.

Time a thread spends in native code (a JNI call such as lz4-java's
`LZ4JNI.LZ4_decompress_safe`) is not among the execution samples. JFR
records it as `jdk.NativeMethodSample` events, which are printed on
lines of their own, counted by top frame, under each pattern's shares.
They are not merged into the shares: JFR takes at most one native
sample per period (20 ms in the `profile` settings) across all threads,
where it takes execution samples of several threads per period (10 ms),
so the two counts are on different scales.

Recording a benchmark run (the harness JVM inherits JAVA_TOOL_OPTIONS):

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/k8s.jfr,settings=profile \\
      -XX:FlightRecorderOptions=stackdepth=256" \\
      python3 perfbench/run.py --workload k8s_large --seed 7 --seconds 20 --trace 0
    python3 tools/jfr_phases.py /tmp/k8s.jfr
"""
import argparse
import re
import subprocess
import sys

# (phase, frame prefixes): a frame is "<class>.<method>(...)"
PHASES = [
    ("render", ("graft.sinks.Render",)),
    ("parse+analyse", (
        "org.apache.spark.sql.catalyst.parser.",
        "org.apache.spark.sql.execution.SparkSqlParser",
        "org.apache.spark.sql.execution.SparkSqlAstBuilder",
        "org.apache.spark.sql.catalyst.analysis.",
        "org.apache.spark.sql.execution.QueryExecution.assertAnalyzed",
        "org.apache.spark.sql.execution.QueryExecution.analyzed",
        "graft.dialect.KsqlDialect",
    )),
    ("optimise+plan", (
        "org.apache.spark.sql.catalyst.optimizer.",
        "org.apache.spark.sql.execution.SparkOptimizer",
        "org.apache.spark.sql.catalyst.planning.",
        "org.apache.spark.sql.execution.SparkStrategies",
        "org.apache.spark.sql.execution.SparkPlanner",
        "org.apache.spark.sql.execution.QueryExecution.optimizedPlan",
        "org.apache.spark.sql.execution.QueryExecution.sparkPlan",
        "org.apache.spark.sql.execution.QueryExecution.executedPlan",
        "org.apache.spark.sql.execution.QueryExecution$.prepareForExecution",
        "org.apache.spark.sql.execution.CollapseCodegenStages",
        "org.apache.spark.sql.execution.adaptive.",
        "graft.plans.GraftStrategy",
        "graft.plans.LocalCollect$.localPlan",
    )),
    ("codegen/rdd", (
        "org.apache.spark.sql.execution.WholeStageCodegenExec.doExecute",
        "org.apache.spark.sql.execution.WholeStageCodegenExec.doCodeGen",
        "org.apache.spark.sql.execution.CodegenSupport",
        # generating source (the row writers in that package are rows)
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
        "org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext",
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeFormatter",
        "org.apache.spark.sql.catalyst.expressions.codegen.Generate",
        "org.apache.spark.sql.catalyst.expressions.Expression.genCode",
        "org.apache.spark.util.ClosureCleaner",
        "org.apache.spark.util.SparkClosureCleaner",
        "org.apache.spark.SparkContext.clean",
        "org.apache.spark.sql.execution.SparkPlan.execute",
    )),
    ("rows", (
        "org.apache.spark.rdd.RDD.iterator",
        "org.apache.spark.rdd.RDD.computeOrReadCheckpoint",
        "org.apache.spark.sql.catalyst.encoders.ExpressionEncoder$Deserializer",
        "org.apache.spark.sql.graftshim.GraftShim$.runLocally",
        "org.apache.spark.sql.classic.Dataset.collect",
        "org.apache.spark.SparkContext.runJob",
        "graft.plans.LocalCollect$Prepared.run",
    )),
]
ORDER = [p for p, _ in PHASES] + ["other"]

THREAD = re.compile(r'^\s*sampledThread = "(.*)" \(')
EVENT = re.compile(r'^(jdk\.\w+) \{$')
LINE = re.compile(r' line: \d+.*$')
EVENTS = ("jdk.ExecutionSample", "jdk.NativeMethodSample")
NATIVE_TOP = 10  # native top frames listed per pattern


def phase_of(frames):
    """Phase of the innermost frame (frames[0]) that names one."""
    for f in frames:
        for phase, prefixes in PHASES:
            if f.startswith(prefixes):
                return phase
    return "other"


def samples(path, depth):
    """(event, thread name, frames innermost first, truncated) per
    execution or native-method sample."""
    cmd = ["jfr", "print", "--events", ",".join(EVENTS),
           "--stack-depth", str(depth), path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            bufsize=1 << 20)
    event, thread, frames, in_stack, truncated = None, None, [], False, False
    for line in proc.stdout:
        s = line.strip()
        m = THREAD.match(line)
        e = EVENT.match(line)
        if e:
            event = e.group(1)
        elif m:
            thread = m.group(1)
        elif s == "stackTrace = [":
            in_stack, frames, truncated = True, [], False
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack:
            if s == "...":
                truncated = True
            else:
                frames.append(s)
        elif s == "}" and thread is not None:
            yield event, thread, frames, truncated
            event, thread, frames = None, None, []
    if proc.wait() != 0:
        sys.exit(f"jfr print failed on {path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--threads", action="append",
                    help="thread-name pattern (regex); repeatable "
                         "(default: ksql-http)")
    ap.add_argument("--stack-depth", type=int, default=256,
                    help="frames read per sample (default 256)")
    args = ap.parse_args()
    patterns = [(p, re.compile(p)) for p in (args.threads or ["ksql-http"])]
    counts = {p: dict.fromkeys(ORDER, 0) for p, _ in patterns}
    native = {p: {} for p in counts}
    cut = dict.fromkeys(counts, 0)
    for event, thread, frames, truncated in samples(args.recording,
                                                    args.stack_depth):
        phase = None
        for p, rx in patterns:
            if not rx.search(thread):
                continue
            if event == "jdk.NativeMethodSample":
                top = LINE.sub("", frames[0]) if frames else "(no stack)"
                native[p][top] = native[p].get(top, 0) + 1
            else:
                phase = phase or phase_of(frames)
                counts[p][phase] += 1
                cut[p] += truncated
    for p, _ in patterns:
        n = sum(counts[p].values())
        print(f"threads /{p}/: {n} samples, {cut[p]} with a cut-short stack")
        for phase in ORDER:
            k = counts[p][phase]
            share = 100.0 * k / n if n else 0.0
            print(f"  {phase:<14} {k:>7}  {share:5.1f} %")
        tops = sorted(native[p].items(), key=lambda kv: (-kv[1], kv[0]))
        print(f"  native samples (not in the shares above): "
              f"{sum(native[p].values())}, by top frame")
        for top, k in tops[:NATIVE_TOP]:
            print(f"  {k:>7}  {top}")
        if len(tops) > NATIVE_TOP:
            rest = sum(k for _, k in tops[NATIVE_TOP:])
            print(f"  {rest:>7}  ({len(tops) - NATIVE_TOP} other frames)")


if __name__ == "__main__":
    main()
