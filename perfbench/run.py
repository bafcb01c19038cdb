#!/usr/bin/env python3
"""Benchmark of record for the graft search engine.

Run from the repository root:

    python3 perfbench/run.py --workload serve-small --seed 1 --seconds 20 --trace 0

Workloads: serve-small, reindex (see perfbench/WORKLOADS.md).
The first run builds the engine and the harness from source with sbt
(offline); later runs reuse the build while no source file changed. The
harness runs in one JVM with a fixed heap on local[nproc] and prints its
result; this script stamps the environment, writes everything to
perfbench/results/, and prints as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exit status is 0 only when a result was produced.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.fingerprint")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("serve-small", "reindex")
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def sources():
    """Every file the build reads, as sorted repo-relative paths."""
    out = []
    for base in (ROOT, HERE):
        for name in ("build.sbt", "project/build.properties"):
            if os.path.isfile(os.path.join(base, name)):
                out.append(os.path.join(base, name))
        for top in ("src/main", "project"):
            for d, dirs, files in os.walk(os.path.join(base, top)):
                dirs[:] = [x for x in dirs if x not in ("target", "project")]
                out += [os.path.join(d, f) for f in files
                        if f.endswith((".scala", ".java", ".sbt"))]
    return sorted(set(os.path.relpath(p, ROOT) for p in out))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(fingerprint):
    """Compiles engine + harness unless the last build saw these sources."""
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read() == fingerprint:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s/.sbt/repositories "
                   "-Dsbt.offline=true -Xmx2g" % os.path.expanduser("~"))
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=fh,
            stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.isfile(LAUNCH):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit("perfbench: build failed (rc=%s), see %s" % (rc, log))
    with open(STAMP, "w") as fh:
        fh.write(fingerprint)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only: plant a wrong answer / a corrupted refresh
    ap.add_argument("--plant", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: engine sources not found under %s" % ROOT)
    files = sources()
    src_hash = source_hash(files)
    build(src_hash)
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_opts = lines[0], lines[1:]

    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(HERE, ".work", "%s-%d" % (tag, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    load_start = loadavg()
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + jvm_opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--plant", str(a.plant)])
    log = os.path.join(RESULTS, tag + ".log")
    t0 = time.time()
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                    stdout=subprocess.PIPE, stderr=err,
                                    text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                sys.exit("perfbench: run exceeded %ds" % RUN_TIMEOUT_S)
        for name in ("spans", "stages"):
            f = os.path.join(work, name + ".jsonl")
            if os.path.isfile(f):
                shutil.copy(f, os.path.join(RESULTS, "%s.%s.jsonl" % (tag, name)))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    found = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not found:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit("perfbench: harness failed (rc=%s)" % proc.returncode)
    res = json.loads(found[-1][len("PERFBENCH_RESULT "):])
    record = res.pop("record")
    record.update({
        "git_commit": git_commit(), "source_sha256": src_hash,
        "heap": HEAP, "nproc": os.cpu_count(),
        "loadavg_before_jvm": load_start, "loadavg_after_jvm": loadavg(),
        "wall_s": round(time.time() - t0, 3)})
    with open(os.path.join(RESULTS, tag + ".json"), "w") as fh:
        json.dump(dict(res, record=record), fh, indent=1, sort_keys=True)
    for name, m in sorted(res["metrics"].items()):
        print("%s %r %s" % (name, m["value"], m["unit"]))
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps({k: res[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
