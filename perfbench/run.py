#!/usr/bin/env python3
"""The repository benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (`perfbench/build.sbt`) and caches the
launch classpath under `.bench_build/perfbench`, keyed by a digest of the
sources. Each run then starts one benchmark JVM (`perfbench.Main`), which
sets up, runs the timed job until `--seconds` of job time have passed,
checks every job's output, and writes its measurements to a file. A
traced run also runs the corpus queries; this script then checks each
written corpus output against the cached oracle hashes.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones. The line before it holds the environment and every
end-to-end figure, the correctness counts included.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402

EXTRACT_DOCS = 10000
HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [
        os.path.join(ROOT, "build.sbt"),
        os.path.join(ROOT, "project", "build.properties"),
        os.path.join(ROOT, "src", "main"),
        os.path.join(HERE, "build.sbt"),
        os.path.join(HERE, "project", "build.properties"),
        os.path.join(HERE, "src", "main"),
    ]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Launch spec {classpath, java_options}, building when sources changed."""
    spec_path = os.path.join(BUILD, "launch.json")
    digest = source_digest()
    try:
        with open(spec_path) as f:
            spec = json.load(f)
        if spec.get("digest") == digest:
            return spec
    except (OSError, ValueError):
        pass
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", "perfbench/launchSpec"],
                         HERE, env, log, BUILD_TIMEOUT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log_path}")
    with open(os.path.join(HERE, "target", "launch.json")) as f:
        spec = json.load(f)
    spec["digest"] = digest
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    return spec


def run_bounded(cmd, cwd, env, log, timeout):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def main():
    # a terminated run still stops its JVM (run_bounded kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    data = os.path.join(HERE, "data")
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
                 data):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from the root of a full checkout")
    spec = build()

    work = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    cmd = (["java"] + spec["java_options"] +
           # no hsperfdata file in /tmp: the run writes only in the checkout
           [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", os.pathsep.join(spec["classpath"]), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(len(os.sched_getaffinity(0))),
            "--docs", str(EXTRACT_DOCS), "--work", work, "--data", data,
            "--result", result_path])
    try:
        with open(os.path.join(BUILD, f"jvm-{a.workload}.log"), "w") as log:
            try:
                rc = run_bounded(cmd, work, os.environ, log, JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s", 3)
        if rc != 0 or not os.path.exists(result_path):
            fail(f"benchmark JVM failed (exit {rc}); see {log.name}", 3)
        with open(result_path) as f:
            r = json.load(f)
        if "outputs" in r:
            want = oracle.expected(r["queries"], data, r["oracle_dir"],
                                   os.path.join(BUILD, "oracle_hashes.json"))
            wrong = oracle.check_outputs(r["outputs"], r["queries"], want)
            r["failed"] += len(wrong)
            r["failures"] += [f"{q}: {why}" for q, why in wrong]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report = metrics.report(r, a.trace == 1)
    detail = {k: v for k, v in r.items() if k not in ("outputs", "layers", "queries")}
    detail["end_to_end"] = report["end_to_end"]
    print(json.dumps(detail))
    print(json.dumps({k: report[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
