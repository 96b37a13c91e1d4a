#!/usr/bin/env python3
"""htmlspark benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source (sbt, offline) into .bench_build/; later runs reuse
that build while the sources are unchanged. Each run starts one JVM, which
sets up the workload, measures it and checks every output. The report goes
to standard output, the JVM's log to .bench_build/logs/, a result file with
all samples, the machine shape and (traced) the spans and Spark stage ledger
to .bench_build/results/. The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}, the metrics being every
end_to_end metric of BENCHMARK.json (--trace 0) or every per_layer metric
(--trace 1).

--workload query-suite is a ledger run, not one of BENCHMARK.json's
workloads: one pass of the 45 SparkEntry queries at sf0.1 with graft.Bench's
session, warmup and order, printing the suite figures (--trace 0) or the
per-query Spark ledger (--trace 1) under its own metric names.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    out = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    out.append(os.path.join(HERE, "build.sbt"))
    return out


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def heap_gb():
    """The heap the repo's test command gives Spark (SPARK_DRIVER_MEM):
    half of MemTotal, 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(max(kb // 2097152, 2), 8)
    except (OSError, StopIteration, ValueError):
        return 2


def build(src_digest):
    """Compiles the program and the benchmark; returns the classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == src_digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as lf:
            tail = lf.readlines()[-30:]
        die("build failed (see %s):\n%s" % (log, "".join(tail)), 1)
    with open(stamp, "w") as f:
        f.write(src_digest)
    print("built in %.1f s" % (time.time() - t0))
    with open(cp_file) as g:
        return g.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("no BENCHMARK.json at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    ledger_only = a.workload == "query-suite"
    if a.workload not in [w["name"] for w in spec["workloads"]] and not ledger_only:
        die("unknown workload %r" % a.workload)
    if a.seconds < 1:
        die("--seconds must be at least 1")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the program's sources (build.sbt, src/main/scala) are not in this checkout")

    src_digest = digest(source_files())
    cp = build(src_digest)
    commit = "src-" + src_digest[:16]
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or commit
        except (OSError, subprocess.TimeoutExpired):
            pass

    tmp = os.path.join(BUILD, "tmp")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    heap = "%dg" % heap_gb()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Xmx" + heap, "-Xms" + heap, "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + tmp, "-Dperfbench.commit=" + commit,
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", ROOT]
    log = os.path.join(logs, "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace))
    result = None
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf,
                                stdin=subprocess.DEVNULL, text=True)
        watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
        watchdog.start()

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            for line in proc.stdout:
                if line.startswith("PERFBENCH_RESULT "):
                    result = json.loads(line[len("PERFBENCH_RESULT "):])
                else:
                    sys.stdout.write(line)
                    sys.stdout.flush()
            proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or result is None:
        with open(log) as lf:
            tail = [l for l in lf.readlines() if "perfbench" in l or "Exception" in l][-20:]
        die("the run failed with code %s (log: %s)\n%s" % (proc.returncode, log, "".join(tail)), 1)

    got = result["metrics"]
    if ledger_only:
        print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                          "failed": int(result["failed"]), "metrics": got}))
        return
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    unknown = sorted(set(got) - {m["name"] for m in wanted})
    if unknown:
        die("the run emitted metrics BENCHMARK.json does not list: %s" % unknown, 1)
    metrics, absent = {}, []
    for m in wanted:
        if m["name"] in got:
            if got[m["name"]]["unit"] != m["unit"]:
                die("%s: unit %s, BENCHMARK.json says %s"
                    % (m["name"], got[m["name"]]["unit"], m["unit"]), 1)
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not exercise reads 0
            absent.append(m["name"])
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            die("end-to-end metric %s was not measured (see %s)" % (m["name"], log), 1)
    if absent:
        print("not exercised by %s (reported as 0): %s" % (a.workload, " ".join(absent)))
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
