#!/usr/bin/env python3
"""Benchmark runner: builds the engine from source, runs one workload in a
fresh JVM and prints its metrics.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The seed sets the order of the workload's
queries; the inputs are the fixed seed-42 fixtures in perfbench/fixtures.
The engine (src/main/scala) and the harness (perfbench/src) are compiled
with the Scala compiler that ships in $SPARK_HOME/jars into .bench_build/,
once per source tree. Each run works in its own directory under
.bench_build/runs, which is also the JVM's java.io.tmpdir, Spark local dir
and warehouse, and is deleted afterwards, so no sidecar written by one run
reaches another run's cold pass.

With --trace 0 the last line of standard output is a JSON object holding
the end-to-end metrics; with --trace 1 it holds the per-layer metrics of
the traced passes, and the span tree is kept under .bench_build/traces.
Workloads, queries and metric notes are in perfbench/workloads.json.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import layers  # noqa: E402  (after the line above, so no __pycache__ lands in the checkout)
import oracle  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# The harness runs at least this many warm passes, even when --seconds is
# spent sooner. Warm passes still speed up while the JIT catches up, so an
# untraced run takes three and reports each query's best. A traced run
# takes two traced passes with an untraced one between them (the harness
# adds one untraced pass between each pair of traced ones), so its later
# half holds a traced and an untraced pass.
MIN_WARM = {0: 3, 1: 2}
# A run must end within 180 s of its start, the build excepted.
JVM_DEADLINE_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark jars: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build(jars):
    """Compiles the engine and the harness unless this source tree was
    compiled before; returns the class directory."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        fail("no engine sources under src/main/scala: run from a checkout of the repo")
    sources += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    key = hashlib.sha256()
    for path in sources + sorted(glob.glob(os.path.join(jars, "*.jar"))):
        key.update(os.path.relpath(path, ROOT).encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                key.update(f.read())
    classes = os.path.join(BUILD, "classes", key.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
    os.makedirs(classes)
    scalac = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))[0]
              for n in ("compiler", "library", "reflect")]
    t0 = time.time()
    done = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(scalac),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
         "-classpath", os.path.join(jars, "*"), "-d", classes] + sources,
        stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        fail("compilation failed")
    open(os.path.join(classes, ".complete"), "w").close()
    print(f"perfbench: compiled {len(sources)} files in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


def run_jvm(classes, jars, fixtures, out, queries, args, run_id):
    # Default JIT thresholds: lowered ones (CompileThresholdScaling=0.1)
    # had the JIT recompile each pass's generated classes on every core,
    # which made both cold and warm passes slower and noisier.
    cmd = [java(), "-Xms1g", "-Xmx1g"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(out, 'local')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Harness",
            "--fixtures", fixtures, "--out", out, "--queries", ",".join(queries),
            "--cpus", str(len(os.sched_getaffinity(0))), "--seconds", str(args.seconds),
            "--min-warm", str(MIN_WARM[args.trace]), "--trace", str(args.trace), "--run-id", run_id]
    proc = subprocess.Popen(cmd, cwd=out, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_DEADLINE_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        fail(f"benchmark JVM exited with {code}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A terminated runner still stops its JVM (run_jvm's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(spec['workloads'])}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    jars = spark_jars()
    classes = build(jars)
    queries = list(spec["workloads"][args.workload]["queries"])
    random.Random(args.seed).shuffle(queries)
    print(f"workload {args.workload}, seed {args.seed}, order {' '.join(queries)}")
    fixtures = os.path.join(HERE, spec["fixtures"])
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    try:
        t0 = time.time()
        run_jvm(classes, jars, fixtures, out, queries, args, run_id)
        print(f"perfbench: JVM ran {time.time() - t0:.1f} s", file=sys.stderr)
        with open(os.path.join(out, "result.json")) as f:
            result = json.load(f)
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        with open(os.path.join(out, "trace.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        t0 = time.time()
        checks = oracle.check(os.path.join(out, "results"), oracle_sql, fixtures,
                              os.path.join(BUILD, "oracle"))
        print(f"perfbench: oracle check took {time.time() - t0:.1f} s", file=sys.stderr)
        if args.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(out, "trace.jsonl"),
                        os.path.join(BUILD, "traces", f"{args.workload}-s{args.seed}.jsonl"))
    finally:
        shutil.rmtree(out, ignore_errors=True)

    passes = result["passes"]
    # Every timed execution is an operation; a result that differs from
    # the oracle is one more failed operation.
    executions = [q for p in passes for q in p["queries"]]
    errors = [f"{q['name']}: {q['error']}" for q in executions if q["error"]]
    errors += [f"{name}: oracle mismatch: {why}" for name, why in checks.items() if why]
    attempted = len(executions)

    # The first warm pass still carries JIT work, so the per-layer medians
    # come from the later half of the warm passes only.
    warm = [i for i, p in enumerate(passes) if p["kind"] == "warm"]
    steady = warm[len(warm) // 2:]

    def best(key):
        """Each query's fastest untraced warm run, summed: on a shared host
        other tenants slow single runs at random, never speed them up."""
        runs = [passes[i]["queries"] for i in warm if not passes[i]["traced"]]
        return sum(min(qs[k][key] for qs in runs) for k in range(len(queries)))

    if args.trace:
        metrics, unclosed = layers.per_layer(spans, passes, steady)
        errors += [f"{q}: trace does not account for its wall time" for q in unclosed]
    else:
        metrics = {
            "setup_s": result["setup_s"],
            # The JVM's CPU time rather than the wall time of the cold
            # pass: there is one cold pass per run, and the CPU time
            # leaves out the time the host took the CPUs away.
            "cold_cpu_s": passes[0]["proc_cpu_s"],
            "wall_s": best("wall_s"),
            "cpu_s": best("cpu_s"),
        }
    failed = min(len(errors), attempted)
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"metrics not measured: {', '.join(missing)}")

    for e in errors:
        print(f"FAILED {e}", file=sys.stderr)
    print("  pass process cpu: " + " ".join(f"{p['proc_cpu_s']:.3f}" for p in passes),
          file=sys.stderr)
    print("  pass walls: " + " ".join(f"{p['wall_s']:.3f}{'t' if p['traced'] else ''}"
                                      for p in passes), file=sys.stderr)
    for name in queries:
        times = [q["wall_s"] for p in passes[1:] for q in p["queries"] if q["name"] == name]
        print(f"  {name:28s} cold {passes[0]['queries'][queries.index(name)]['wall_s']:7.3f} s"
              f"  warm median {statistics.median(times):7.3f} s", file=sys.stderr)
    for m in wanted:
        print(f"{m['name']:34s} {metrics[m['name']]:14.6g} {m['unit']}")
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
