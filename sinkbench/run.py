#!/usr/bin/env python3
"""Sink benchmark: one run of one workload.

    python3 sinkbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the harness from
source on first use (sbt, offline), generates the run's inputs from the
seed, runs the workload in one fresh JVM with fresh checkpoint, output and
SPARK_LOCAL_DIRS directories, checks the outputs, and prints one JSON
object as the last line of standard output. See README.md here.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["bulk_rich", "trickle_pending", "dirty_replay", "curate_batch"]
END_TO_END = {
    "setup_s": "s", "job_s": "s", "ingest_rows_per_s": "rows/s", "batch_s_p50": "s",
    "freshness_ms_p50": "ms", "freshness_ms_p99": "ms", "recovery_s_p50": "s",
    "files_per_mrow": "files/Mrow", "bytes_per_row": "B",
    "peak_rss_mb": "MB",
}
WORK = os.path.join(HERE, ".work")
TRACES = os.path.join(HERE, "traces")
# curate_batch runs over sf 0.1; the traced runs' layer sweep over sf 0.01,
# which keeps a traced pipeline run about 20 s shorter
CORPUS_SF = {"curate_batch": "0.1", "sweep": "0.01"}
RUN_BUDGET_S = 170  # for everything after the build, check included
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[sinkbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Fingerprint of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """sbt compile of program + harness; writes target/classpath.txt."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at src/main/scala: run from the root of a checkout")
    stamp_file = os.path.join(HERE, "target", "sinkbench.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    # temp files, JNA's native stubs and the server socket stay inside the
    # checkout, or are not made at all
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=850, text=True)
    if p.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return open(cp_file).read().strip()


def java_cmd(classpath, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed young generation: with adaptive sizing the heap grew to a
    # different size in each JVM, and peak_rss_mb spread 0.19 over three
    # trickle_pending runs (0.01 with it fixed)
    return ["java", *opens, "-Xms1g", "-Xmx4g", "-Xmn512m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classpath, main, *args]


def run_jvm(cmd, env, log_path, timeout):
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def corpus(classpath, env, sf):
    """A fixed curation corpus (GenData at scale factor `sf`, deterministic),
    made once per checkout: it does not depend on the seed."""
    path = os.path.join(WORK, f"corpus-sf{sf}")
    if os.path.exists(os.path.join(path, "_done")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(WORK, exist_ok=True)
    log(f"generating the curation corpus (sf {sf})")
    rc = run_jvm(java_cmd(classpath, "graft.GenData", [sf, tmp], env["TMPDIR"]), env,
                 os.path.join(WORK, "corpus.log"), 600)
    if rc != 0:
        fail("corpus generation failed", 1)
    open(os.path.join(tmp, "_done"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()

    classpath = build()
    started = time.time()  # a run must end within 180 s of here
    cores = str(os.cpu_count() or 1)
    work = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "spark-local"))
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_GRAFT_CPUS=cores, TMPDIR=os.path.join(work, "tmp"))
    env.pop("SPARK_HOME", None)
    try:
        corpus_dir = ""
        if a.workload == "curate_batch":
            corpus_dir = corpus(classpath, env, CORPUS_SF["curate_batch"])
        elif a.trace:
            corpus_dir = corpus(classpath, env, CORPUS_SF["sweep"])
        t0 = time.time()
        plan = gen.generate(a.workload, a.seed, os.path.join(work, "input"), a.seconds)
        t1 = time.time()
        launch_ms = int(time.time() * 1000)
        rc = run_jvm(java_cmd(classpath, "sinkbench.Main", [
            "--workload", a.workload, "--work", work, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--launch-ms", str(launch_ms), "--corpus", corpus_dir],
            env["TMPDIR"]), env, os.path.join(work, "jvm.log"),
            RUN_BUDGET_S - (time.time() - started))
        if rc != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"workload JVM exited with {rc}", 1)
        t2 = time.time()
        result = json.load(open(os.path.join(work, "result.json")))
        m = result["metrics"]
        if a.workload == "curate_batch":
            attempted, failed, problems = check.check_curate(work, corpus_dir, result)
        else:
            attempted, failed, problems, fresh = check.check_pipeline(work, plan, result)
            # per drain, then the median over the run's drains
            for k, q in (("freshness_ms_p50", 0.5), ("freshness_ms_p99", 0.99)):
                m[k] = statistics.median(check.quantile(f, q) for f in fresh)
        log(f"gen {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, check {time.time() - t2:.1f} s")
        if problems:
            log(f"check failed: {json.dumps(problems)[:2000]}")
        error_share = failed / attempted if attempted else 1.0
        print(json.dumps({"workload": a.workload, "seed": a.seed, "error_share": error_share,
                          "readback_s": m["readback_s"]}))
        os.makedirs(TRACES, exist_ok=True)
        untraced = os.path.join(TRACES, f"{a.workload}-seed{a.seed}.untraced.json")
        if a.trace:
            tr = json.load(open(os.path.join(work, "trace.json")))
            tr["error_share"] = error_share
            tr["end_to_end_traced"] = m
            # tracing overhead: traced minus untraced figures of the same
            # workload and seed, when an untraced run of it is on record
            if os.path.exists(untraced):
                base = json.load(open(untraced))
                tr["tracing_overhead"] = {k: v - base[k] for k, v in m.items() if k in base}
                log("tracing overhead: " + ", ".join(
                    f"{k} {v:+.4g}" for k, v in tr["tracing_overhead"].items()))
            out = os.path.join(TRACES, f"{a.workload}-seed{a.seed}.json")
            with open(out, "w") as f:
                json.dump(tr, f, indent=1, sort_keys=True)
            log(f"trace written to {os.path.relpath(out, ROOT)}")
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in tr["per_layer"].items()}
        else:
            with open(untraced, "w") as f:
                json.dump(m, f, indent=1, sort_keys=True)
            metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
        missing = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
        if missing:
            fail(f"not measured: {missing}", 1)
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
