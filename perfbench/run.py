#!/usr/bin/env python3
"""Benchmark of the Spark engine: builds the engine and the harness from
source, runs one workload in a fresh JVM, checks every result digest, and
prints one JSON line of metrics.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --record-digests

Run it from anywhere inside a checkout; it reads and writes only there
(build output, per-run scratch and reports go under `.bench_build/`).
Workloads, their scale factors and query lists are in
`perfbench/workloads.json`; the reasoning behind them is in
`perfbench/README.md`.
"""
import argparse
import fcntl
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars_dir():
    """The Spark jars the project's sbt build compiles against (its
    `unmanagedBase`), else the `jars` directory of `SPARK_HOME`."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = spark_jars_dir()
JAVA_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        fail(f"no Spark jars in {SPARK_JARS}")
    return jars


def build():
    """Compile engine + harness into a directory keyed by their sources.
    Returns the classes directory."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala; run from a checkout")
    srcs = engine + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                                     recursive=True))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(OUT, "build-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".ok")):
            return classes
        for old in glob.glob(os.path.join(OUT, "build-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(classes)
        cp = ":".join(spark_classpath())
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={out}", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-classpath", cp, "-d", classes] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            print(r.stdout[-4000:], file=sys.stderr)
            fail("build failed")
        open(os.path.join(out, ".ok"), "w").close()
        print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
        return classes


def run_java(classes, main, args, timeout_s):
    """Run `main` in a fresh JVM with a per-run tmpdir, which is deleted
    when the JVM has ended; return (exit code, log)."""
    run_dir = os.path.join(OUT, f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms1g", "-Xmn384m", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join([classes] + spark_classpath()), main] + args
    log_path = os.path.join(run_dir, "java.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                 cwd=run_dir, start_new_session=True)
            try:
                rc = p.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                rc = -9
            finally:
                # also on SIGTERM or Ctrl-C: no JVM outlives the benchmark
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
        with open(log_path, errors="replace") as f:
            return rc, f.read()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)["workloads"]


def data_dir(sf):
    return os.path.join(HERE, "data", sf)


def digest_file(sf):
    return os.path.join(HERE, "digests", f"{sf}.txt")


def run_workload(a):
    workloads = load_workloads()
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; have {sorted(workloads)}")
    w = workloads[a.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    os.makedirs(os.path.join(OUT, "reports"), exist_ok=True)
    report_path = os.path.join(OUT, "reports", tag + ".json")
    spans_path = os.path.join(OUT, "reports", tag + "-spans.json")
    for p in (report_path, spans_path):
        if os.path.exists(p):
            os.remove(p)
    args = [f"workload={a.workload}", f"seed={a.seed}",
            f"seconds={a.seconds}", f"trace={a.trace}",
            "queries=" + ",".join(w["queries"]),
            f"warm={data_dir(w['warm_sf'])}", f"target={data_dir(w['sf'])}",
            f"digests={digest_file(w['sf'])}",
            f"report={report_path}", f"spans={spans_path}"]
    rc, log = run_java(classes, "graftbench.Main", args, JAVA_TIMEOUT_S)
    with open(os.path.join(OUT, "reports", tag + ".log"), "w") as f:
        f.write(log)
    if rc != 0 or not os.path.exists(report_path):
        print(log[-6000:], file=sys.stderr)
        fail(f"harness exited with {rc}")
    with open(report_path) as f:
        rep = json.load(f)

    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        v = rep[section].get(m["name"])
        if v is None:
            fail(f"harness reported no value for {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = rep["failed"]
    ctx = rep["context"]
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"queries={rep['queries']} cores={ctx['cores']}")
    print("context: " + " ".join(f"{k}={v:.3f}" for k, v in ctx.items()
                                 if isinstance(v, float)))
    print(f"digests: {rep['digest_verdict']}")
    e2e = rep["end_to_end"]
    print(f"fail_ratio={e2e['fail_ratio']} pinned_mb={e2e['pinned_mb']:.6g}")
    for q, why in failed.items():
        print(f"FAILED {q}: {why}")
    if a.trace:
        print(f"span tree: {os.path.relpath(spans_path, ROOT)}")
    print(f"report: {os.path.relpath(report_path, ROOT)}")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    correct = not failed and rep["digest_verdict"] == "all matched"
    print(json.dumps({"correct": correct, "attempted": rep["queries"],
                      "failed": len(failed), "metrics": metrics}))
    return 0 if correct else 1


def record_digests():
    """Write each workload's digests at its SF. Record only from a build
    whose results tools/check.py matched against DuckDB at that SF."""
    classes = build()
    by_sf = {}
    for w in load_workloads().values():
        by_sf.setdefault(w["sf"], set()).update(w["queries"])
    for sf, qs in sorted(by_sf.items()):
        args = ["mode=record", "queries=" + ",".join(sorted(qs)),
                f"target={data_dir(sf)}"]
        rc, log = run_java(classes, "graftbench.Main", args, 900)
        lines = [l for l in log.splitlines() if l.startswith("q_")]
        if rc != 0:
            print(log[-6000:], file=sys.stderr)
            fail(f"recording {sf} failed")
        os.makedirs(os.path.dirname(digest_file(sf)), exist_ok=True)
        with open(digest_file(sf), "w") as f:
            f.write(f"# query rows sum(xxhash64(all columns)) at {sf}\n")
            f.write("\n".join(sorted(lines)) + "\n")
        print(f"recorded {len(lines)} digests for {sf}")
    return 0


def self_test():
    rc, log = run_java(build(), "graftbench.SelfTest", [], 300)
    print("\n".join(l for l in log.splitlines() if l.startswith(("ok ", "FAIL"))))
    if rc != 0:
        print(log[-4000:], file=sys.stderr)
    return rc


def main():
    # turn SIGTERM into SystemExit so run_java stops its JVM on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if a.record_digests:
        return record_digests()
    if not a.workload:
        ap.error("--workload is required")
    return run_workload(a)


if __name__ == "__main__":
    sys.exit(main())
