#!/usr/bin/env python3
"""Lake-lifecycle benchmark: one seeded, closed-loop workload per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload evolve_ingest --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs the harness JVM
(`graft.perfbench.Main`), checks every result, and prints one JSON object
as the last line of stdout: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. Each run also leaves a run record (and,
traced, its spans) under `<build dir>/perfbench/records/`.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("evolve_ingest", "lake_scan", "upsert_refresh", "curation")
# TPC-H-like scale of the generated inputs, per workload
SCALE = {"lake_scan": 0.01, "curation": 0.01}
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d, "perfbench") if not os.path.isabs(d) \
        else os.path.join(d, "perfbench")


def source_stamp():
    """A digest of every input of the build: edit any, and it rebuilds."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                os.path.join(ROOT, "project", "build.properties"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(out):
    """Compile the engine and the harness (once per source stamp); return
    the runtime classpath."""
    stamp, cp_file = source_stamp(), os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export Runtime/fullClasspath"],
                         BUILD_LIMIT_S, cwd=HERE, env=sbt_env(), stdout=lf)
    with open(log) as lf:
        lines = [ln.strip() for ln in lf if ln.strip()]
    if rc != 0 or not lines or os.pathsep not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


def run_bounded(cmd, limit, **kw):
    """Run a child in its own process group; kill the group past `limit`."""
    p = subprocess.Popen(cmd, stderr=subprocess.STDOUT, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def git_commit():
    try:
        # the ceiling keeps git from looking above the checkout
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, env=env).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail(f"no engine sources under {ROOT} (expected build.sbt and src/main/scala/graft)")
    out = build_dir()
    cp = classpath(out)
    deadline = time.time() + RUN_LIMIT_S

    load_before = os.getloadavg()[0]
    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t_setup = time.time()
        if a.workload in SCALE:
            datagen.generate(data, a.seed, SCALE[a.workload])
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", cp, "graft.perfbench.Main", a.workload, str(a.seed),
                  str(a.seconds), str(a.trace), work, data])
        with open(os.path.join(work, "jvm.log"), "w") as lf:
            rc = run_bounded(cmd, deadline - time.time(), stdout=lf)
        if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
            with open(os.path.join(work, "jvm.log")) as lf:
                tail = lf.read()[-3000:]
            fail(f"harness exited {rc}:\n{tail}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        if a.workload == "curation":
            oracle.check(res, work, data)
        spans = None
        if a.trace:
            spans_path = os.path.join(work, "spans.jsonl")
            with open(spans_path) as f:
                spans = [json.loads(ln) for ln in f if ln.strip()]
        report = metrics.compute(res, setup_s=res["setup_done_ms"] / 1000.0 - t_setup,
                                 trace=bool(a.trace), spans=spans)
        report["record"].update({
            "seed": a.seed, "workload": a.workload, "seconds": a.seconds,
            "trace": a.trace, "nproc": os.cpu_count(), "heap": HEAP,
            "heap_max_mb": res["heap_max_mb"], "loadavg_before": load_before,
            "loadavg_after": os.getloadavg()[0], "commit": git_commit(),
            "scale": SCALE.get(a.workload)})
        rec_dir = os.path.join(out, "records")
        os.makedirs(rec_dir, exist_ok=True)
        stem = os.path.join(rec_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-"
                                     f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
        with open(stem + ".json", "w") as f:
            json.dump(report, f, indent=1)
        if spans is not None:
            shutil.copy(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
        metrics.print_human(report)
        print(json.dumps(report["line"]))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
