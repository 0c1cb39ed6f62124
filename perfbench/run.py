#!/usr/bin/env python3
"""Benchmark driver for the graft log-pipeline library.

Run one workload (builds the library and the benchmark first if needed):

    python3 perfbench/run.py --workload route_fanout --seed 1 --seconds 10 --trace 0

Other modes:

    python3 perfbench/run.py selftest
    python3 perfbench/run.py sweep --workloads route_fanout,apache_lscl --seeds 1-10 --out a.jsonl
    python3 perfbench/run.py compare a.jsonl b.jsonl

Run from the repository root. Everything the benchmark builds, generates or
writes goes under .bench_build/ there.
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
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build")
CLASSPATH = os.path.join(OUT, "classpath.txt")
STAMP = os.path.join(OUT, "build.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JAVA_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.local.dir=" + os.path.join(OUT, "spark-local"),
    "-Dspark.sql.warehouse.dir=" + os.path.join(OUT, "warehouse"),
    "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
    "-Dderby.system.home=" + os.path.join(OUT, "tmp"),
] + [x for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                 "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                 "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
     for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Hash of every file the build reads, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"), os.path.join(REPO, "project"),
             os.path.join(HERE, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(REPO, "build.sbt")):
        fail("the library sources (src/main/scala/graft, build.sbt) are not next to perfbench/")
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    print("perfbench: building (log in %s)" % log, file=sys.stderr)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    with open(log, "w") as fh:
        try:
            p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=fh, text=True,
                               timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        fail("build failed, see %s" % log)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)


def java(args, timeout):
    """Run perfbench.Main; returns (exit code, stdout lines)."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + ["-cp", open(CLASSPATH).read(), "perfbench.Main", "--root", OUT] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(OUT, "spark-local"))
    p = subprocess.Popen(cmd, cwd=REPO, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("run exceeded %d s" % timeout, 3)
    return p.returncode, out.splitlines()


def run_one(workload, seed, seconds, trace):
    build()
    code, lines = java(["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], RUN_TIMEOUT_S)
    for l in lines[:-1]:
        print(l)
    if code != 0 or not lines:
        fail("run failed (exit %d)" % code, 1)
    result = json.loads(lines[-1])
    return result, lines[-1]


def bench_config():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def load(path):
    rows = []
    with open(path) as fh:
        for l in fh:
            if l.strip():
                rows.append(json.loads(l))
    return rows


def spread(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def compare(a_path, b_path):
    """Per workload and metric: median and quartiles of each set, the
    quartile spread as a share of the median, and a verdict against the
    metric's bound (B is the candidate, A the baseline)."""
    cfg = bench_config()
    metrics = {m["name"]: m for m in cfg["end_to_end"] + cfg["per_layer"]}
    a, b = load(a_path), load(b_path)
    ok = True
    for w in sorted({r["workload"] for r in a + b}):
        ra = [r for r in a if r["workload"] == w]
        rb = [r for r in b if r["workload"] == w]
        failed = sum(r["result"]["failed"] for r in ra + rb)
        print("%s: %d vs %d runs, failed ops %d" % (w, len(ra), len(rb), failed))
        ok &= failed == 0
        names = sorted({k for r in ra + rb for k in r["result"]["metrics"]})
        for name in names:
            va = [r["result"]["metrics"][name]["value"] for r in ra if name in r["result"]["metrics"]]
            vb = [r["result"]["metrics"][name]["value"] for r in rb if name in r["result"]["metrics"]]
            if len(va) < 2 or len(vb) < 2:
                continue
            qa, qb = spread(va), spread(vb)
            m = metrics.get(name, {})
            bound = m.get("bound")
            sa = (qa[2] - qa[0]) / qa[1] if qa[1] else float("inf")
            sb = (qb[2] - qb[0]) / qb[1] if qb[1] else float("inf")
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            worse = change if m.get("better") == "lower" else -change
            if bound is None:
                verdict = "(no bound)"
            elif worse > bound:
                verdict = "REGRESSION"
            elif name != "setup_s" and max(sa, sb) > bound:
                verdict = "UNRESOLVED (spread above bound)"
            else:
                verdict = "ok"
            if bound is not None and verdict != "ok":
                ok = False
            print("  %-28s A %.6g [%.6g, %.6g] spread %.3f | B %.6g [%.6g, %.6g] spread %.3f | "
                  "change %+.3f bound %s %s" % (name, qa[1], qa[0], qa[2], sa, qb[1], qb[0], qb[2], sb,
                                               change, bound, verdict))
    return 0 if ok else 1


def seed_list(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def sweep(workloads, seeds, seconds, trace, out):
    """Run every workload on every seed, appending one JSON line per run."""
    seconds = seconds or bench_config()["run_seconds"]
    with open(out, "a") as fh:
        for s in seeds:
            for w in workloads:
                t0 = time.time()
                result, _ = run_one(w, s, seconds, trace)
                fh.write(json.dumps({"workload": w, "seed": s, "trace": trace,
                                     "wall_s": time.time() - t0, "result": result}) + "\n")
                fh.flush()
                print("%s seed %d: %.1f s, %s" % (w, s, time.time() - t0,
                                                   json.dumps(result["metrics"])), file=sys.stderr)


def main():
    argv = sys.argv[1:]
    if argv[:1] == ["selftest"]:
        build()
        code, lines = java(["--selftest"], RUN_TIMEOUT_S)
        print("\n".join(lines))
        sys.exit(code)
    if argv[:1] == ["compare"]:
        if len(argv) != 3:
            fail("usage: run.py compare A.jsonl B.jsonl")
        sys.exit(compare(argv[1], argv[2]))
    if argv[:1] == ["sweep"]:
        ap = argparse.ArgumentParser(prog="run.py sweep")
        ap.add_argument("--workloads", required=True)
        ap.add_argument("--seeds", required=True)
        ap.add_argument("--seconds", type=int, default=0)
        ap.add_argument("--trace", type=int, default=0)
        ap.add_argument("--out", required=True)
        a = ap.parse_args(argv[1:])
        sweep(a.workloads.split(","), seed_list(a.seeds), a.seconds, a.trace, a.out)
        return
    ap = argparse.ArgumentParser(prog="run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    _, line = run_one(a.workload, a.seed, a.seconds, a.trace)
    print(line)


if __name__ == "__main__":
    main()
