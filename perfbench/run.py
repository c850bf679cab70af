#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload pubsub|log_replay --seed N \
        --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. The first run builds the engine and the
benchmark driver from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics for --trace 0 and the per-layer metrics for --trace 1.
The lines before it carry the run conditions and the output checks; the
full report stays in perfbench/.runs/.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "perfbench-classpath.txt")
STAMP_FILE = os.path.join(BUILD_DIR, "perfbench-stamp.txt")
RUNS_DIR = os.path.join(HERE, ".runs")

RUN_LIMIT_S = 170  # a run (without a build) must end within 180 s
BUILD_LIMIT_S = 700
WORKLOADS = ("pubsub", "log_replay")

# Spark 4 on JDK 17 outside spark-submit (same list as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, stdout, stderr):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(stamp):
    """Compile engine + driver with sbt; record the runtime classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                     "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    build_log = os.path.join(BUILD_DIR, "perfbench-build.log")
    log("building engine + benchmark driver with sbt (first run in this checkout)")
    t0 = time.time()
    with open(build_log, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HERE, env, BUILD_LIMIT_S, fh,
                       subprocess.STDOUT)
    with open(build_log) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: build failed (sbt exit {rc}), see {build_log}")
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.1f}s")


def classpath():
    """The runtime classpath, building first when the sources changed.
    Returns (classpath, whether this call built)."""
    stamp = source_stamp()
    current = open(STAMP_FILE).read() if os.path.exists(STAMP_FILE) else None
    built = current != stamp or not os.path.exists(CLASSPATH_FILE)
    if built:
        build(stamp)
    return open(CLASSPATH_FILE).read().strip(), built


def cpu_times():
    """Aggregate CPU times from /proc/stat (user, nice, system, idle, iowait,
    irq, softirq, steal, ...), or None where there is no /proc."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two samples."""
    if not before or not after or len(before) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return round(delta[7] / max(sum(delta[:8]), 1), 4)


def commit():
    """Git commit of the checkout, or the source hash when it is not a repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-" + source_stamp()[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and fewer set-up repetitions (for the smoke test)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.stderr.write(f"perfbench: no engine sources under {ENGINE_SRC}; "
                         "run from the root of a full checkout\n")
        return 2

    started = time.time()
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    cp, built = classpath()

    tag = f"{args.workload}-t{args.trace}" + ("-smoke" if args.smoke else "")
    work = os.path.join(RUNS_DIR, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "result.json")
    java = ["java", "-Xmx2g", "-Xss4m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--work", work, "--out", out_file]
    if args.smoke:
        java.append("--smoke")
    jvm_log = os.path.join(work, "jvm.log")
    # a run that built may take longer overall; the JVM itself gets the run limit
    budget = RUN_LIMIT_S if built else RUN_LIMIT_S - (time.time() - started)
    try:
        try:
            with open(jvm_log, "w") as fh:
                rc = run_group(java, work, os.environ.copy(), budget, fh, subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"perfbench: run exceeded {budget:.0f}s, see {jvm_log}\n")
            return 3
        if rc != 0 or not os.path.exists(out_file):
            with open(jvm_log, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            sys.stderr.write(f"perfbench: benchmark JVM exited {rc}, see {jvm_log}\n")
            return 4
        with open(out_file) as fh:
            doc = json.load(fh)
        result, report = doc["result"], doc["report"]
    finally:
        # the logs and checkpoints the run wrote; spans, result and JVM log stay
        for name in os.listdir(work):
            if name not in ("result.json", "spans.jsonl", "jvm.log"):
                shutil.rmtree(os.path.join(work, name), ignore_errors=True)

    report["commit"] = commit()
    report["load_avg_start_1_5_15"] = list(load_start)
    report["load_avg_end_1_5_15"] = list(os.getloadavg())
    report["cpu_steal_share"] = steal_share(cpu_start, cpu_times())
    report["wall_s"] = round(time.time() - started, 3)
    with open(out_file, "w") as fh:
        json.dump(doc, fh, indent=1)

    # tracing overhead: this traced run's end-to-end figures against the
    # last untraced run of the same workload in this checkout
    if args.trace == 1:
        plain = os.path.join(RUNS_DIR, tag.replace("-t1", "-t0"), "result.json")
        if os.path.exists(plain):
            with open(plain) as fh:
                base = json.load(fh)["report"]["end_to_end"]
            over = {k: round(v["value"] / base[k]["value"] - 1.0, 4)
                    for k, v in report["end_to_end"].items()
                    if k in base and base[k]["value"]}
            print("# tracing_overhead (traced / untraced - 1): " + json.dumps(over))

    cond = {k: report.get(k) for k in (
        "workload", "seed", "trace", "commit", "nproc", "load_avg_start_1_5_15",
        "load_avg_end_1_5_15", "cpu_steal_share", "jvm_max_heap_mb", "spark_version", "scala_version",
        "artifact_store_root", "artifact_store_builds", "wall_s")}
    print("# conditions: " + json.dumps(cond))
    print("# checks: " + json.dumps(report.get("checks")))
    print("# ops_failed_frac: " + json.dumps(report.get("ops_failed_frac")))
    print("# workload_names: " + json.dumps(report.get("workload_names")))
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
