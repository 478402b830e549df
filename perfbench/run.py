#!/usr/bin/env python3
"""Entry point of graft's benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload suite|collect|graph|stream \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --report --seed N --seconds S
    python3 perfbench/run.py --selftest

It builds the harness (graft's sources plus perfbench/src) with sbt when
the sources changed since the last build, runs one workload in a fresh
JVM at local[nproc], and prints every metric by name with its unit; the
last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (and writes spans to perfbench/out/). `--report` runs every
workload untraced and traced and prints one table, with the tracing
overhead. Generated inputs, sinks and checkpoints live in a temporary
directory under perfbench/.work that is removed at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
EXPECTED = os.path.join(BENCH, "expected", "suite_reference.tsv")
WORKLOADS = ["suite", "collect", "graph", "stream"]
REFUSED_ENV = ["SPARK_GRAFT_CONF", "SPARK_GRAFT_BROADCAST_MAX", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_ONLY"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # a first run builds, then runs: both within 900 s
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    for top in (GRAFT_SRC, os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def source_stamp():
    h = hashlib.sha256()
    for p in sorted(source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    # offline: dependencies resolve only from the local caches
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                       "-Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g")
    t0 = time.time()
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH, env=env,
                            stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    wait_or_kill(proc, BUILD_TIMEOUT_S, "build")
    if proc.returncode != 0:
        fail("build failed", 3)
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def heap_mb():
    """Driver heap: a quarter of physical memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2048, min(4096, kb // 1024 // 4))
    except (OSError, StopIteration):
        return 2048


def run_jvm(main, args, work, timeout=RUN_TIMEOUT_S):
    """Runs one JVM with `work` as its scratch space; returns (code, stdout lines)."""
    nproc = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap_mb()}m", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dspark.local.dir={os.path.join(work, 'local')}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{SPARK_JARS}/*", main] + args)
    env = {k: v for k, v in os.environ.items() if k not in REFUSED_ENV}
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["PERFBENCH_COMMIT"] = git_commit()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    out = wait_or_kill(proc, timeout, main)
    return proc.returncode, out.splitlines()


def wait_or_kill(proc, timeout, what):
    """Waits for `proc`; past `timeout`, or on interrupt, kills its whole
    process group and waits for it. Returns its standard output."""
    try:
        out, _ = proc.communicate(timeout=timeout)
        return out or ""
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{what} exceeded {timeout} s", 4)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def new_work():
    base = os.path.join(BENCH, ".work")
    os.makedirs(base, exist_ok=True)
    work = os.path.join(base, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    return work


def run_workload(workload, seed, seconds, trace, extra=()):
    work = new_work()
    try:
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "1" if trace else "0", "--work", work, "--expected", EXPECTED]
        if trace:
            args += ["--trace-out", os.path.join(BENCH, "out", f"trace-{workload}-seed{seed}.json")]
        code, lines = run_jvm("perfbench.Main", args + list(extra), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code != 0 or not isinstance(result, dict) or set(result) != RESULT_KEYS:
        for l in lines:
            print(l, file=sys.stderr)
        fail(f"workload {workload} failed (exit {code})", 1)
    return lines, result


def record_of(lines):
    for l in lines:
        if l.startswith("RECORD "):
            return json.loads(l[len("RECORD "):])
    return {}


def report(seed, seconds):
    """Every workload untraced, then traced: one table of all metrics."""
    rows = []
    ok = True
    for w in WORKLOADS:
        plain, r0 = run_workload(w, seed, seconds, False)
        traced, r1 = run_workload(w, seed, seconds, True)
        rec0, rec1 = record_of(plain), record_of(traced)
        ok = ok and r0["correct"] and r1["correct"]
        for k, m in rec0.get("end_to_end", {}).items():
            rows.append((w, "e2e", k, m["value"], m["unit"]))
        for k, m in rec1.get("per_layer", {}).items():
            rows.append((w, "layer", k, m["value"], m["unit"]))
        over = rec1["per_layer"]["trace.wall_s"]["value"] - rec0["end_to_end"]["wall_s"]["value"]
        rows.append((w, "trace", "overhead_vs_untraced_run_s", over, "s"))
        rows.append((w, "check", "correct", 1.0 if (r0["correct"] and r1["correct"]) else 0.0, "bool"))
    for w, kind, k, v, u in rows:
        print(f"{w:8s} {kind:6s} {k:30s} {v:16.4f} {u}")
    print(json.dumps({"correct": ok, "attempted": len(WORKLOADS), "failed": 0 if ok else 1,
                      "metrics": {f"{w}.{k}": {"value": v, "unit": u} for w, kind, k, v, u in rows
                                  if kind == "e2e"}}))


def git_status():
    r = subprocess.run(["git", "status", "--porcelain", "--untracked-files=all"], cwd=ROOT,
                       capture_output=True, text=True)
    return r.stdout if r.returncode == 0 else None


def selftest():
    """Harness self-tests in the JVM, then the hermetic-run check."""
    work = new_work()
    try:
        code, lines = run_jvm("perfbench.SelfTest", ["--work", work], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for l in lines:
        print(l)
    if code != 0:
        fail("self-test failed", 1)
    before = git_status()
    if before is None:
        print("selftest hermetic: SKIP (not a git checkout)")
    else:
        run_workload("collect", 1, 1, False)
        after = git_status()
        if after != before:
            fail(f"a benchmark run changed git status:\n{before}\n---\n{after}", 1)
        print("selftest hermetic: PASS (git status unchanged by a run)")
    print("selftest: PASS")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-expected", action="store_true",
                    help="rewrite the suite's reference fingerprints (maintenance)")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(GRAFT_SRC, "graft", "GraftSession.scala")):
        fail("graft sources not found under src/main/scala; run from the root of a checkout", 2)
    if not os.path.isdir(SPARK_JARS):
        fail("Spark jars not found: set SPARK_HOME to a Spark distribution", 2)
    refused = [k for k in REFUSED_ENV if k in os.environ]
    if refused:
        fail(f"refusing to run with {', '.join(refused)} set: an override would make two runs "
             "measure different programs", 2)
    build()

    if a.selftest:
        selftest()
    elif a.report:
        report(a.seed, a.seconds)
    elif a.workload:
        extra = ["--write-expected"] if a.write_expected else []
        lines, result = run_workload(a.workload, a.seed, a.seconds, a.trace == 1, extra)
        for l in lines[:-1]:
            print(l)
        print(json.dumps(result))
    else:
        ap.error("one of --workload, --report or --selftest is required")


if __name__ == "__main__":
    main()
