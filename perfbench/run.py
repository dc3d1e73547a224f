#!/usr/bin/env python3
"""Benchmark for the engine: two closed-loop workloads, one client each.

    python3 perfbench/run.py --workload <name|all> [--seed N]
        [--seconds S] [--trace 0|1]

Run from the root of a checkout. The first run builds the benchmark
package (perfbench/build.sbt: the engine's sources plus the workload code
in perfbench/src) with sbt; later runs reuse the build while the sources
are unchanged. Each run generates its inputs from the seed (gen.py),
runs the workload in a fresh JVM at local[nproc] with a fresh temp dir,
warehouse, checkpoint root and SPARK_LOCAL_DIRS under .bench_run/, checks
the outputs, prints the workload's figures and, as the last line, one
JSON object. With --trace 0 its metrics are the end-to-end metrics;
with --trace 1 they are the per-layer metrics of a traced run, and the
report lists each span's self time. README.md explains the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["odm_publish", "artifact_ingest"]
E2E = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"), ("p50_ms", "ms"),
       ("peak_heap_mb", "MB")]
GEN_REPS = 3
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(env):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile"], cwd=HERE, capture_output=True,
                       text=True, env=dict(env, SBT_OPTS=opts.strip()),
                       timeout=840)
    if p.returncode != 0:
        log(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return classes


def fresh_dir(path):
    os.makedirs(path)
    if os.listdir(path):
        fail(f"{path} is not empty at start")
    return path


def generate(workload, seed, work):
    """Generates the inputs GEN_REPS times into separate directories,
    checks the copies are identical, keeps the first and returns the
    median generation time."""
    sys.path.insert(0, HERE)
    import gen
    times, digests = [], []
    for i in range(GEN_REPS):
        out = fresh_dir(os.path.join(work, f"input-{i}"))
        t0 = time.perf_counter()
        gen.generate(workload, seed, out)
        times.append(time.perf_counter() - t0)
        h = hashlib.sha256()
        for f in sorted(os.listdir(out)):
            with open(os.path.join(out, f), "rb") as fh:
                h.update(f.encode() + fh.read())
        digests.append(h.hexdigest())
        if i:
            shutil.rmtree(out)
    if len(set(digests)) != 1:
        fail("input generation is not deterministic")
    return os.path.join(work, "input-0"), statistics.median(times)


def run_jvm(workload, seed, seconds, trace, classes, work, env):
    cpus = str(len(os.sched_getaffinity(0)))
    for sub in ("tmp", "local", "warehouse"):
        fresh_dir(os.path.join(work, sub))
    home = env["SPARK_HOME"]
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{home}/jars/*", "perfbench.Main", workload,
            str(seed), str(seconds), str(trace), f"{work}/input-0", work, cpus]
    jenv = dict(env, SPARK_LOCAL_DIRS=f"{work}/local",
                SPARK_GRAFT_CPUS=cpus)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             env=jenv, cwd=work)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-6000:])
        fail(f"{workload}: JVM exited with {code}")
    with open(result) as f:
        return json.load(f), cpus


def oracle_check(fixture, queries):
    """Compares the query results the JVM wrote with their DuckDB oracle
    using the engine's own checker, tools/check.py (columns by name,
    rows sorted, exact cells, type families; a query without oracle SQL
    must return rows). Returns the number of queries checked and the
    failures; a checker that does not finish is one failure."""
    with open(os.path.join(queries, "queries.json")) as f:
        n = len(json.load(f))
    try:
        p = subprocess.run([sys.executable,
                            os.path.join(ROOT, "tools", "check.py"),
                            fixture, queries], capture_output=True,
                           text=True, timeout=15)
    except subprocess.TimeoutExpired:
        return n, ["oracle check timed out"]
    lines = p.stdout.splitlines()
    bad = [f"oracle {line.strip()[2:]}" for line in lines
           if line.startswith("  x ")]
    if not any(line.startswith("OK=") for line in lines):
        bad.append("oracle check did not finish: " + p.stderr[-400:])
    return max(n, len(bad)), bad


def cpu_times():
    """Aggregate (busy, steal, total) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    steal = v[7] if len(v) > 7 else 0
    return sum(v) - v[3] - v[4], steal, sum(v)


def run_one(workload, seed, seconds, trace, classes, env):
    work = fresh_dir(os.path.join(
        ROOT, ".bench_run", f"{workload}-{seed}-{trace}-{os.getpid()}"))
    try:
        fixture, gen_s = generate(workload, seed, work)
        t0 = time.perf_counter()
        st0 = cpu_times()
        res, cpus = run_jvm(workload, seed, seconds, trace, classes, work,
                            env)
        t1 = time.perf_counter()
        st1 = cpu_times()
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        queries = os.path.join(work, "queries")
        if os.path.isdir(queries):
            n, bad = oracle_check(fixture, queries)
            attempted += n
            failed += len(bad)
            failures += bad
        log(f"perfbench: {workload}: inputs {GEN_REPS}x{gen_s:.1f} s, "
            f"jvm {t1 - t0:.1f} s, oracle {time.perf_counter() - t1:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    e = res["e2e"]
    e2e = {"setup_s": gen_s + e["session_s"] + e["warmup_s"],
           "wall_s": e["wall_s"], "cpu_s": e["cpu_s"], "p50_ms": e["p50_ms"],
           "peak_heap_mb": e["peak_heap_mb"]}
    report = [f"== {workload} seed={seed} trace={trace} cores={cpus} "
              f"cycles={int(e['cycles'])}"]
    if st0 and st1 and st1[2] > st0[2]:
        report.append("host: cpu busy {:.0%}, stolen {:.1%} of machine time "
                      "during the JVM".format(
                          (st1[0] - st0[0]) / (st1[2] - st0[2]),
                          (st1[1] - st0[1]) / (st1[2] - st0[2])))
    if not trace:
        report += [f"{k} {e2e[k]:.6g} {u}" for k, u in E2E]
        if e["samples"] * 0.5 >= 10:
            report.append(f"tail_ms {e['tail_ms']:.6g} ms (p{e['tail_pct']:g} "
                          f"of {int(e['samples'])} samples)")
        else:
            report.append(f"tail_ms not resolvable: {int(e['samples'])} "
                          "samples leave fewer than ten beyond any "
                          "percentile from p50 up")
        report += [f"{k} {v['value']:.6g} {v['unit']}"
                   for k, v in res["report"].items()]
        report.append(f"checks_s {e['checks_s']:.3g} s (output checks, "
                      "outside the cycles)")
        report.append("operations (count, median ms): " + ", ".join(
            f"{k} {n} {m:.0f}" for k, (n, m) in res["ops"].items()))
    else:
        report += [f"{k} {v['value']:.6g} {v['unit']}"
                   for k, v in res["layer"].items()]
        report += res["spans"]
    report.append(f"failed_frac {failed / max(attempted, 1):.6g} ratio "
                  f"({failed} of {attempted})")
    report += [f"FAILED {f}" for f in failures]
    metrics = res["layer"] if trace else \
        {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}, report


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in (os.path.join(ROOT, "src", "main", "scala", "graft",
                              "SparkEntry.scala"),
                 os.path.join(HERE, "build.sbt")):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from the root "
                 "of a full checkout")
    if not shutil.which("java"):
        fail("java is not on PATH")
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    classes = build(env)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for w in names:
        res, report = run_one(w, a.seed, a.seconds, a.trace, classes, env)
        print("\n".join(report), flush=True)
        results[w] = res
    if len(results) == 1:
        out = results[names[0]]
    else:
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{w}.{k}": v for w, r in results.items()
                           for k, v in r["metrics"].items()}}
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
