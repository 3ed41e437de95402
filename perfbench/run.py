#!/usr/bin/env python3
"""Panel-engine benchmark: one workload of registry queries, timed end to end.

Usage (from the repository root):

    python3 perfbench/run.py --workload sql_short --seed 1 --seconds 10 --trace 0

    python3 perfbench/run.py --record      # re-record expected fingerprints

Builds the program and the harness from source (sbt, cached under
.bench_build/ by a hash of the sources), then launches one fresh JVM. It
builds a local[nproc] session, runs untimed warm passes of the workload
(the end of set-up), then timed closed-loop passes until --seconds have
passed (at least one). Every query's result is fingerprinted and checked
against perfbench/expected/fingerprints.txt.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics of
a traced run (listeners attached on alternate passes, so the tracing
overhead is measured in the same JVM). The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}; a full,
self-describing record goes to --out and the span tree beside it. See
perfbench/README.md for every metric.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
EXPECTED = os.path.join(HERE, "expected", "fingerprints.txt")
DEFAULT_DATA = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """sha256 over every source and build file the program is built from."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(tree_hash):
    """Compiles with sbt unless .bench_build holds a build of these sources;
    returns the runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == tree_hash:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    # offline: resolve only through the resolvers in ~/.sbt/repositories
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=840)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        die(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(tree_hash)
    return cp


def steal_s():
    """Host-wide hypervisor steal seconds so far (all vCPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def java_cmd(cp, *args):
    return ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.PanelBench",
        "--work", os.path.join(BUILD, "spark")] + list(args)


def run_jvm(cp, args, spans, err_path):
    """Runs the measuring JVM; returns its summary record."""
    # a guard against a hung JVM, not a limit on a slow one: a run several
    # times slower than usual still ends and reports its figures
    timeout = 600 + 4 * args.seconds
    t0 = time.time()
    cmd = java_cmd(
        cp, "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", args.data, "--expected", EXPECTED,
        "--t0-ms", str(int(t0 * 1000)), "--spans", spans)
    with open(err_path, "w") as ef:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=ef, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"JVM timed out after {timeout:g} s; see {err_path}")
    rec = [l for l in out.splitlines() if l.startswith("PERFBENCH_JVM ")]
    if p.returncode != 0 or not rec:
        die(f"JVM exited {p.returncode} without a result; see {err_path}")
    return json.loads(rec[-1][len("PERFBENCH_JVM "):])


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(jvm):
    passes = jvm["passes"]
    samples = [q for p in passes for q in p["query_wall_s"]]
    m = {
        "setup_s": jvm["setup_s"],
        "pass_s": median([p["wall_s"] for p in passes]),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "query_p50_s": median(samples),
        "heap_live_mb": jvm["heap_live_bytes"] / 1e6,
        "offheap_rss_mb": (jvm["peak_rss_kb"] * 1024 - jvm["heap_committed_bytes"]) / 1e6,
    }
    extra = {"passes": len(passes), "query_samples": len(samples)}
    # a percentile is reported only with at least ten samples beyond it
    if len(samples) >= 100:
        extra["query_p90_s"] = statistics.quantiles(samples, n=10)[-1]
    return m, extra


def per_layer(jvm, names):
    traced = jvm["layers"]
    untraced = [p["wall_s"] for p in jvm["passes"] if not p["traced"]]
    traced_s = median([l["pass_s"] for l in traced])
    special = {
        "trace.pass_s": traced_s,
        "trace.overhead_s": traced_s - median(untraced),
        "codegen.setup_compiles": jvm["setup_codegen"]["compiles"],
        "codegen.setup_compile_s": jvm["setup_codegen"]["compile_s"],
    }
    return {n: special[n] if n in special else median([l.get(n, 0) for l in traced])
            for n in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA, help="parquet tables (default %(default)s)")
    ap.add_argument("--out", help="result file (default .bench_build/results/<workload>-seed<N>-trace<T>.json)")
    ap.add_argument("--record", action="store_true",
                    help="fingerprint every query of the three workload families into " + EXPECTED)
    args = ap.parse_args()
    if not args.record and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isfile(os.path.join(PROGRAM_SRC, "scala", "graft", "SparkEntry.scala")):
        die(f"program sources not found under {PROGRAM_SRC}", 2)
    if not os.path.isdir(args.data):
        die(f"data directory {args.data} not found", 2)
    if "SPARK_HOME" not in os.environ:
        die("SPARK_HOME is not set (the build takes the Spark jars from $SPARK_HOME/jars)", 2)
    for d in ("tmp", "spark", "results", "logs"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    tree_hash = source_hash()
    cp = build(tree_hash)
    if args.record:
        sys.exit(subprocess.run(java_cmd(cp, "--record", EXPECTED, "--data", args.data), cwd=ROOT).returncode)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.abspath(args.out or os.path.join(BUILD, "results", name + ".json"))
    spans = os.path.splitext(out)[0] + ".spans.json"

    steal0, load0 = steal_s(), os.getloadavg()
    started = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    jvm = run_jvm(cp, args, spans, os.path.join(BUILD, "logs", name + ".err"))
    steal1, load1 = steal_s(), os.getloadavg()

    failures = jvm["failures"]
    section = spec["end_to_end"] if args.trace == 0 else spec["per_layer"]
    listed = [m["name"] for m in section]
    units = {m["name"]: m["unit"] for m in section}
    if args.trace == 0:
        metrics, extra = end_to_end(jvm)
    else:
        metrics, extra = per_layer(jvm, listed), {}
    extra["failed_frac"] = jvm["failed_frac"]

    try:
        git_sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True).stdout.strip() or None
    except OSError:
        git_sha = None
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "run_seconds": args.seconds,
        "git_sha": git_sha, "tree_sha256": tree_hash, "nproc": os.cpu_count(),
        "sf": os.path.basename(os.path.normpath(args.data)), "data": args.data,
        "started_utc": started,
        "host": {"steal_s": steal1 - steal0, "loadavg_start": load0, "loadavg_end": load1},
        "attempted": jvm["attempted"], "failed": len(failures),
        "failed_queries": sorted({f["query"] for f in failures}), "failures": failures,
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
        "extra": extra, "spans": spans, "jvm": jvm,
    }
    try:
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump(record, f, indent=1)
    except OSError as e:
        die(f"cannot write result {out}: {e}")

    for f in failures:
        print(f"FAILED {f['query']} (pass {f['pass']}): {f['reason']}")
    for k in listed:
        print(f"{k} = {metrics[k]:.6g} {units[k]}")
    for k, v in extra.items():
        print(f"{k} = {v:.6g}" if isinstance(v, float) else f"{k} = {v}")
    print(f"result: {out}")
    print(json.dumps({
        "correct": not failures, "attempted": jvm["attempted"], "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in listed}}))


if __name__ == "__main__":
    main()
