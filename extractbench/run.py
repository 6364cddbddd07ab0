#!/usr/bin/env python3
"""Benchmark of the shipped extraction pipeline, graft.pipeline.Extract.run.

    python3 extractbench/run.py --workload fresh_mixed --seed 1 --seconds 10 --trace 0
    python3 extractbench/run.py --selftest

Run from the repository root. The first run compiles the repository's
src/main together with extractbench/src (sbt, see build.sbt); later runs reuse
the build while the sources are unchanged. Each run generates its inputs from
--seed under extractbench/.work/, runs the benchmark JVMs, removes the inputs
and prints one JSON object as the last line of standard output:

  --trace 0: end-to-end metrics: setup_s from the cold start of the
             measuring JVM, then pages_per_s, cpu_ms_per_page and
             retained_heap_mb from its warm passes.
  --trace 1: per-layer metrics from the traced run; its spans and self times
             go to extractbench/out/trace-<workload>-<seed>.json.

A record of every run (host, seed, every pass) goes to extractbench/out/.
See extractbench/README.md for the workloads and metrics.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("fresh_mixed", "resume_90")
JVM_HEAP = "3g"
RUN_BUDGET = 170  # seconds for all JVMs of one measurement
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
E2E_UNITS = {"pages_per_s": "1/s", "cpu_ms_per_page": "ms",
             "setup_s": "s", "retained_heap_mb": "MB"}


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark distribution: set SPARK_HOME")
    return home


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(home):
    """Compile with sbt unless the build stamp matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("no src/main/scala next to extractbench/: "
                         "run from a full checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = os.path.join(BENCH, "target", "extractbench.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return classes
    log("extractbench: compiling (sbt products)")
    env = dict(os.environ, SPARK_HOME=home)
    t0 = time.time()
    rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "products"],
                   cwd=BENCH, env=env, timeout=800, stdout=sys.stderr)
    if rc != 0:
        raise BenchError(f"sbt build failed (exit {rc})")
    log(f"extractbench: compiled in {time.time() - t0:.0f} s")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return classes


def run_child(cmd, cwd, env, timeout, stdout, stderr=None):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"timed out after {timeout:.0f} s: {' '.join(cmd[-8:])}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


class Jvm:
    """Runs benchmark JVMs for one measurement; all of them together get
    RUN_BUDGET seconds, so a run ends within its time limit."""

    def __init__(self, classes, home, work):
        self.work = work
        self.deadline = time.time() + RUN_BUDGET
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        java_home = os.environ.get("JAVA_HOME")
        java = os.path.join(java_home, "bin", "java") if java_home else "java"
        cp = os.pathsep.join([classes, os.path.join(home, "jars", "*")])
        opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        self.base = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", *opens,
                     "-cp", cp, "extractbench.Main"]
        self.env = dict(os.environ, SPARK_HOME=home)
        self.logs = 0

    def __call__(self, mode, **opts):
        args = [mode]
        for k, v in opts.items():
            args += ["--" + k.replace("_", "-"), str(v)]
        self.logs += 1
        log_path = os.path.join(self.work, f"jvm-{self.logs:02d}-{mode}.log")
        out_path = log_path + ".out"
        t0 = time.time()
        with open(log_path, "wb") as err, open(out_path, "wb") as out:
            rc = run_child(self.base + args, cwd=ROOT, env=self.env,
                           timeout=max(1, self.deadline - time.time()),
                           stdout=out, stderr=err)
        with open(out_path) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        if rc != 0 or not lines:
            with open(log_path, errors="replace") as fh:
                tail = fh.read()[-4000:]
            raise BenchError(f"{mode} JVM failed (exit {rc}):\n{tail}")
        log(f"extractbench: {mode} done in {time.time() - t0:.1f} s")
        return json.loads(lines[-1])


def metric(value, unit):
    return {"value": value, "unit": unit}


def measure(jvm, workload, seed, seconds, trace, scale=1.0, corrupt_pass=-1):
    """Generates the workload and measures it; returns (result, record).
    Only the self-test sets scale, the input size relative to the
    benchmark's."""
    record = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": trace, "scale": scale}
    # the first JVM writes the inputs; the next one starts cold on them
    record["prepare"] = jvm("prepare", workload=workload, work=jvm.work,
                            seed=seed, scale=scale)
    if trace:
        out = os.path.join(BENCH, "out", f"trace-{workload}-{seed}.json")
        res = jvm("trace", workload=workload, work=jvm.work, seed=seed,
                  seconds=seconds, out=out)
        record.update(traced=res, trace_file=os.path.relpath(out, ROOT))
        metrics = res["metrics"]
    else:
        res = jvm("run", workload=workload, work=jvm.work, seed=seed,
                  seconds=seconds, corrupt_pass=corrupt_pass)
        record.update(run=res)
        metrics = {k: metric(v, E2E_UNITS[k]) for k, v in res["metrics"].items()}
    failures = res["failures"]
    result = {"correct": not failures and bool(metrics),
              "attempted": res["attempted"], "failed": res["failed"],
              "metrics": metrics}
    record.update(host=res["host"], failures=failures, result=result,
                  failed_pass_frac=res["failed"] / max(1, res["attempted"]))
    log(f"extractbench: host {json.dumps(res['host'])} seed {seed}")
    for f in failures:
        log("extractbench: FAILED " + f)
    return result, record


def save_record(record):
    out = os.path.join(BENCH, "out")
    os.makedirs(out, exist_ok=True)
    name = "run-{workload}-{seed}-trace{trace}-{t}.json".format(
        t=time.strftime("%Y%m%dT%H%M%S"), **record)
    with open(os.path.join(out, name), "w") as fh:
        json.dump(record, fh, indent=1)


def selftest(classes, home):
    """Every workload at a tiny size: a clean run and a traced run must pass
    every check and report every metric BENCHMARK.json names; a run whose
    first timed pass gets one extracted_text corrupted must count exactly
    that pass as failed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"] for m in spec["per_layer"]}
    problems = []
    for w in WORKLOADS:
        for label, trace, corrupt in (("clean", 0, -1), ("corrupted", 0, 0),
                                      ("traced", 1, -1)):
            work = os.path.join(BENCH, ".work", f"selftest-{w}-{label}-{os.getpid()}")
            try:
                res, rec = measure(Jvm(classes, home, work), w, 7, 1, trace,
                                   scale=0.02, corrupt_pass=corrupt)
            finally:
                shutil.rmtree(work, ignore_errors=True)
            names = e2e if trace == 0 else layers
            if label == "corrupted":
                if res["failed"] != 1 or res["correct"] or \
                        not any("digest" in f for f in rec["failures"]):
                    problems.append(f"{w}: corrupted pass not caught: {res}")
            elif not res["correct"] or res["failed"] or set(res["metrics"]) != names:
                problems.append(f"{w} {label}: {res['correct']} failed={res['failed']}"
                                f" missing={sorted(names - set(res['metrics']))}")
            log(f"extractbench: selftest {w} {label} done")
    for p in problems:
        log("extractbench: selftest FAILED " + p)
    print(json.dumps({"selftest": "ok" if not problems else "failed",
                      "problems": problems}))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        home = spark_home()
        classes = build(home)
        if a.selftest:
            return selftest(classes, home)
        work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
        try:
            result, record = measure(Jvm(classes, home, work), a.workload, a.seed,
                                     a.seconds, a.trace)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        save_record(record)
        print(json.dumps(result))
        return 0
    except BenchError as e:
        log(f"extractbench: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
