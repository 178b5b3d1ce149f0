#!/usr/bin/env python3
"""Repository benchmark: builds the engine and the harness from source,
runs one workload in a fresh JVM and prints one JSON result line.

    python3 perfbench/run.py --workload <medallion|doc_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds with sbt into
`perfbench/target` (and the engine's own `target`); later runs reuse the
build while no source file has changed. Every run gets a fresh work
directory under `perfbench/.runs` for its stores, artifacts, Spark
scratch and JVM temp files, deleted when the run ends; a traced run
leaves its spans and layer table in `perfbench/.runs/trace/<workload>`.

Exit code 0 means every op succeeded and every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

BENCH = "perfbench"
WORKLOADS = ("medallion", "doc_ingest")
HEAP = "3g"            # driver (= executor) heap of the local session
BUILD_TIMEOUT_S = 900
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads, for the rebuild stamp."""
    roots = [os.path.join(root, "src", "main"), os.path.join(root, BENCH, "src")]
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, BENCH, "build.sbt"),
             os.path.join(root, BENCH, "project", "build.properties")]
    proj = os.path.join(root, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(root):
    """Compiles engine + harness; returns (classpath, jvm options)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no engine sources here ({need} missing): "
                 "run from the repository root")
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, BENCH, ".build")
    stamp_file = os.path.join(out, "build.json")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"], cached["java_options"]
    print("[perfbench] building engine and harness with sbt", file=sys.stderr)
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
    env.pop("GRAFT_JVM_EXTRA", None)
    env.setdefault("COURSIER_MODE", "offline")   # no network: image cache
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath", "show javaOptions"],
            cwd=os.path.join(root, BENCH), env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})")
    cp = [l for l in lines if not l.startswith("[") and
          os.path.join(BENCH, "target") in l]
    opts = [l[len("[info] * "):].strip() for l in lines
            if l.startswith("[info] * ")]
    if not cp or "--add-opens" not in opts:
        fail("could not read the classpath or JVM options from sbt")
    os.makedirs(out, exist_ok=True)
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp[-1].strip(),
                   "java_options": opts}, fh)
    return cp[-1].strip(), opts


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    data = os.path.join(root, BENCH, "data")
    if not os.path.isdir(data):
        fail(f"input tables missing under {BENCH}/data")
    classpath, java_options = build(root)

    runs = os.path.join(root, BENCH, ".runs")
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("artifacts", "stores", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    # the shipped engine configuration: no A/B toggles from the caller,
    # and every scratch location inside the work directory
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    env.update(GRAFT_ARTIFACT_ROOT=os.path.join(work, "artifacts"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + java_options +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-XX:-UsePerfData", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", data, "--work", work, "--cores", str(cores)])

    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    stdout = []
    pump = threading.Thread(target=lambda: [sys.stderr.write(l)
                                            for l in proc.stderr])
    pump.start()
    timer = threading.Timer(RUN_TIMEOUT_S,
                            lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    try:
        stdout = proc.stdout.readlines()
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        pump.join()
        trace = os.path.join(work, "trace")
        if os.path.isdir(trace):
            keep = os.path.join(runs, "trace", a.workload)
            shutil.rmtree(keep, ignore_errors=True)
            shutil.move(trace, keep)
        shutil.rmtree(work, ignore_errors=True)

    results = [l for l in stdout if l.startswith("{")]
    if not results:
        fail(f"no result (JVM exit {proc.returncode})")
    res = json.loads(results[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(json.dumps(res))
    sys.exit(0 if proc.returncode == 0 and res["correct"] else 1)


if __name__ == "__main__":
    main()
