#!/usr/bin/env python3
"""Run one benchmark workload and print its result as JSON.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the repository. It builds the engine
and the benchmark code from source with sbt (once per source change),
generates the workload's inputs from the seed, runs one JVM on
`local[nproc]` with the heap sized by the test suite's memory rule, checks
the outputs, and prints two lines: a record of the run (seed, cpus, heap,
commit, the workload's own figures), then `{"correct", "attempted", "failed",
"metrics"}`. With `--trace 1` the metrics are the
per-layer counters of a traced run, plus the tracing overhead (the traced
run's timed work minus that of the untraced run of the same seed, or of the
median untraced run of the workload in this checkout).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# corpus_queries runs corpus_stream, then query_suite on the same session
WORKLOADS = ("query_suite", "nba_season", "corpus_stream", "corpus_queries")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "sources.sha256")
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
DEADLINE_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)


def fail(msg):
    log(msg)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the one
    beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("no Spark jars found; set SPARK_HOME")
    return jars


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def digest():
    """Hash of every source file the build compiles."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark when their sources changed; return
    the sources' hash."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at src/main/scala; run from a repository checkout")
    stamp = digest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.sparkJars={spark_jars()}",
                        "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        fail("sbt compile failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return stamp


def machine():
    """cpus = nproc; heap by the test suite's rule: half of RAM, 2-8 GB."""
    cpus = len(os.sched_getaffinity(0))
    gb = 2
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                gb = min(8, max(2, int(line.split()[1]) // 2097152))
    return cpus, f"{gb}g"


def commit():
    """The commit the checkout was made from, when it is a git checkout
    (the record's `sources` hash identifies the code either way)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(workload, data, work, seconds, trace, cpus, heap, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, f"result-{trace}.json")
    cmd = ["java"] + [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xms{heap}", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dspark.local.dir={work}/tmp", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main",
            workload, data, work, str(seconds), str(trace)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_DRIVER_MEM=heap)
    launch = time.time_ns() // 1000
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd + [str(launch), result], cwd=work, env=env,
                            stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{workload} did not finish in time")
    if rc != 0 or not os.path.exists(result):
        fail(f"{workload} JVM exited with {rc}")
    log(f"JVM (trace {trace}) took {time.monotonic() - t0:.1f} s")
    with open(result) as fh:
        res = json.load(fh)
    log("steps: " + " ".join(f"{o['name']}={o['secs']:.2f}" for o in res["ops"]))
    return res


def untraced_total(cache, seed):
    """The untraced timed work of `seed` in `cache`, else the median over
    the seeds there, else None."""
    same = os.path.join(cache, f"{seed}.json")
    files = [same] if os.path.exists(same) else glob.glob(os.path.join(cache, "*.json"))
    totals = []
    for f in files:
        with open(f) as fh:
            totals.append(json.load(fh)["total_s"])
    return statistics.median(totals) if totals else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a seconds-long smoke size for the self-test")
    a = ap.parse_args()

    stamp = build()
    deadline = time.monotonic() + DEADLINE_S
    cpus, heap = machine()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    # the untraced timed work of every (workload, size, seed) run in this
    # checkout, kept so a traced run can report the tracing overhead: against
    # the same seed's untraced run when there is one, else against the median
    # of the workload's untraced runs (the seeds give inputs of one shape);
    # only with neither does the traced run make an untraced run first
    cache = os.path.join(HERE, ".work", "untraced", f"{a.workload}-{a.size}-{stamp[:12]}")
    try:
        expect = gen.make(a.workload, data, a.seed, a.size)
        base = untraced_total(cache, a.seed) if a.trace else None
        errors = []
        if base is None:
            untraced = run_jvm(a.workload, data, os.path.join(work, "run0"), a.seconds, 0,
                               cpus, heap, deadline)
            t0 = time.monotonic()
            errors = checks.check(a.workload, untraced, expect)
            log(f"checks took {time.monotonic() - t0:.1f} s")
            base = metrics.total_s(untraced)
            os.makedirs(cache, exist_ok=True)
            with open(os.path.join(cache, f"{a.seed}.json"), "w") as fh:
                json.dump({"total_s": base}, fh)
        if a.trace:
            res = run_jvm(a.workload, data, os.path.join(work, "run1"), a.seconds, 1,
                          cpus, heap, deadline)
            errors += checks.check(a.workload, res, expect)
            out = metrics.per_layer(res, base)
            # the spans (name, parent, start, end) outlive the run's work dir
            with open(os.path.join(HERE, ".work", f"spans-{a.workload}-{a.seed}.json"), "w") as fh:
                json.dump(res["spans"], fh)
        else:
            res = untraced
            out = metrics.end_to_end(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        log(f"check failed: {e}")
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"])
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "cpus": res["cpus"], "heap": heap, "commit": commit(),
                      "sources": stamp[:12],
                      "detail": metrics.detail(a.workload, res)}))
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                      "metrics": out}))

if __name__ == "__main__":
    main()
