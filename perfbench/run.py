#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one JVM, one JSON line.

    python3 perfbench/run.py --workload hit_stream --seed 1 --seconds 20 \
        --trace 0 [--size tiny]

Run from the repository root. The first run compiles the engine sources and
the harness into .bench_build/ (see build()); later runs reuse the build
while the sources are unchanged. The harness (perfbench.Main) times
calls into the engine's public API and runs the in-JVM output checks; this
script adds the DuckDB oracle comparison of the driver queries and the
same-seed determinism check, then prints one hygiene line and, last, the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. A metric of a layer the workload does
not exercise reads 0; a metric of a layer it exercises (OWNED) that the run
did not measure is a failed check. The exit code is 0 only when every check
passed.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("hit_stream", "analytics")
RUN_LIMIT_S = 170  # every run must end within 180 s (the build excepted)

# per-layer metric prefixes each workload measures in a traced run
COMMON = ("spark.", "driver.", "trace.", "wall.")
OWNED = {
    "hit_stream": ("algo.leiden.", "run.", "state.") + COMMON,
    "analytics": ("source.", "graph.", "algo.pagerank", "algo.cc_",
                  "algo.lpa_", "algo.triangles_", "algo.quality_",
                  "queries.") + COMMON,
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark installation: $SPARK_HOME, else the one whose spark-submit
    is on PATH, else the jars directory the repository's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home and os.path.exists(os.path.join(ROOT, "build.sbt")):
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            home = os.path.dirname(m.group(1).rstrip("/"))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation (set SPARK_HOME)")
    return home


def java(env):
    home = env.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def jvm_flags(tmp):
    """Flags of every JVM the benchmark starts: no perf-data file, and
    temporary files (Spark's native libraries among them) under `tmp`."""
    os.makedirs(tmp, exist_ok=True)
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def scala_sources():
    """The engine's and the harness's Scala sources, in a fixed order."""
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_stamp(jars):
    h = hashlib.sha256(" ".join(sorted(os.listdir(jars))).encode())
    for f in scala_sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    """Compiles the engine sources and the harness with the Scala compiler
    that ships with Spark (scala-compiler is one of its jars) into
    .bench_build/classes; returns the runtime classpath and the stamp of
    the sources it was built from. Needs no build tool and writes nothing
    outside the checkout."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}")
    jars = os.path.join(env["SPARK_HOME"], "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Scala compiler among the Spark jars in {jars}")
    classes = os.path.join(BUILD, "classes")
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    stamp = source_stamp(jars)
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return cp, stamp
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    sources = os.path.join(BUILD, "sources.txt")
    with open(sources, "w") as f:
        f.writelines(src + "\n" for src in scala_sources())
    log = os.path.join(BUILD, "build.log")
    cmd = [java(env), "-Xmx2g", "-Xss8m"] + \
        jvm_flags(os.path.join(BUILD, "tmp")) + \
        ["-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-d", classes, "@" + sources]
    with open(log, "w") as out:
        rc = subprocess.call(cmd, cwd=ROOT, env=env, stdout=out,
                             stderr=subprocess.STDOUT, timeout=850)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def cpu_times():
    """(busy, steal) seconds of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    return (sum(v[:3]) + sum(v[5:7])) / hz, v[7] / hz


def run_jvm(cp, env, args, work, out, trace_out, deadline):
    heap = "2g" if args.size == "tiny" else "3g"
    tmp = os.path.join(work, "tmp")
    # a fixed heap and the throughput collector: GC work follows what the
    # program allocates, not adaptive heap sizing or concurrent marking
    cmd = [java(env), f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"] + jvm_flags(tmp)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size,
            "--work", work, "--data", os.path.join(HERE, "data"),
            "--out", out, "--trace-out", trace_out]
    log = os.path.join(BUILD, "logs",
                       f"{args.workload}-{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"JVM did not finish in time; see {os.path.relpath(log, ROOT)}")
    if rc != 0 or not os.path.exists(out):
        fail(f"JVM exited {rc}; see {os.path.relpath(log, ROOT)}")
    with open(out) as f:
        return json.load(f)


def oracle_checks(work):
    """analytics: each oracled driver query against DuckDB over the same
    tables; q_leiden (no oracle) must cover every graph vertex and pass its
    own quality self-check."""
    import duckdb
    tables = os.path.join(work, "tables")
    outs = os.path.join(work, "out")
    con = duckdb.connect()
    for t in ("lineitem", "documents", "embeddings"):
        p = os.path.join(tables, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    with open(os.path.join(outs, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def got(name):
        return con.execute("SELECT * FROM read_parquet("
                           f"'{os.path.join(outs, name, '*.parquet')}')").df()

    checks = []
    rows = {}
    for name, sql in sorted(oracle.items()):
        t0 = time.monotonic()
        want = con.execute(sql).df()
        rows[name] = len(want)
        have = got(name)
        cols = sorted(want.columns)
        ok = sorted(have.columns) == cols and len(have) == len(want)
        if ok:
            w = want[cols].sort_values(by=cols).reset_index(drop=True)
            h = have[cols].astype(w.dtypes.to_dict())
            h = h.sort_values(by=cols).reset_index(drop=True)
            ok = bool(w.equals(h))
        checks.append({"name": f"oracle.{name}", "ok": ok,
                       "detail": f"{len(have)} rows, oracle {len(want)}",
                       "s": round(time.monotonic() - t0, 3)})
    if os.path.isdir(os.path.join(outs, "q_leiden")):
        n_verts = rows["q_pagerank"]  # one oracle row per graph vertex
        leiden = got("q_leiden")
        checks.append({
            "name": "rows.q_leiden",
            "ok": len(leiden) == n_verts and bool(leiden["quality_ok"].all()),
            "detail": f"{len(leiden)} rows, {n_verts} graph vertices"})
    return checks


def determinism_check(res, args, stamp):
    """The same build, seed and size must give bit-identical modularity.
    Returns None (not run) on the first run of a seed, which only records
    the value."""
    bits = res["info"].get("modularity_bits")
    rec = os.path.join(BUILD, "record", f"{stamp[:16]}-"
                       f"{args.workload}-{args.size}-{args.seed}.json")
    os.makedirs(os.path.dirname(rec), exist_ok=True)
    if os.path.exists(rec):
        with open(rec) as f:
            prev = json.load(f)["modularity_bits"]
        return {"name": "repeat.modularity", "ok": prev == bits,
                "detail": f"bits {bits}, earlier run {prev}"}
    with open(rec, "w") as f:
        json.dump({"modularity_bits": bits}, f)
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found at the repository root")
    with open(bench_file) as f:
        bench = json.load(f)

    env = dict(os.environ, SPARK_HOME=spark_home())
    cp, stamp = build(env)
    deadline = time.monotonic() + RUN_LIMIT_S

    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)  # wipe between workloads
    os.makedirs(os.path.join(work, "spark-local"))
    out = os.path.join(work, "result.json")
    trace_out = os.path.join(
        BUILD, "traces", f"{args.workload}-{args.seed}.jsonl")
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    busy0, steal0 = cpu_times()
    res = run_jvm(cp, env, args, work, out, trace_out, deadline)
    busy1, steal1 = cpu_times()

    checks = list(res["checks"])
    if res["error"] is None:
        if args.workload == "analytics":
            checks += oracle_checks(work)
        repeat = determinism_check(res, args, stamp)
        if repeat:
            checks.append(repeat)
    failed_py = sum(1 for c in checks[len(res["checks"]):] if not c["ok"])
    # a workload that threw outside any timed op (in set-up, say) counts
    # as one failed operation
    error = 1 if res["error"] is not None and res["failed"] == 0 else 0
    attempted = res["attempted"] + len(checks) - len(res["checks"]) + error
    failed = res["failed"] + failed_py + error

    info = dict(res["info"])
    info["ops"] = [[o["name"], round(o["s"], 3), round(o["cpu_s"], 3)]
                   for o in res["ops"]]
    info["cpu_busy_s"] = round(busy1 - busy0, 2)
    info["cpu_steal_s"] = round(steal1 - steal0, 2)
    for d in ("spark-local", "ckpt", "tables", "out", "graph", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    metrics = {}
    for m in bench["per_layer" if args.trace else "end_to_end"]:
        v = (res["layers"] if args.trace else res["e2e"]).get(m["name"])
        if v is None:
            if args.trace and not m["name"].startswith(OWNED[args.workload]):
                metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
                continue
            if res["error"] is None:
                failed += 1
                attempted += 1
                checks.append({"name": f"metric.{m['name']}", "ok": False,
                               "detail": "not measured"})
            continue
        metrics[m["name"]] = {"value": float(v["value"]), "unit": m["unit"]}
    correct = res["error"] is None and failed == 0 and \
        all(c["ok"] for c in checks)
    print(json.dumps({"hygiene": info, "error": res["error"],
                      "checks": checks, "trace_file": os.path.relpath(
                          trace_out, ROOT) if args.trace else None}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
