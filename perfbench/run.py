#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload batch_clean --seed 1 --seconds 5 --trace 0

Run from the repository root. The first call builds the engine and the
harness with sbt (offline) and caches the runtime classpath; inputs are
generated once per (workload, seed) in a separate JVM and cached under
perfbench/.work/data. Everything the benchmark writes stays under
perfbench/.work (plus sbt's own target directories).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("batch_clean", "batch_dirty", "standing_appends")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to forked test JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host():
    """Cores and memory of the machine the run measures on."""
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    # a quarter of RAM for the one driver JVM that also hosts the local
    # executors, within [1, 8] GiB
    heap_gb = min(8, max(1, mem_kb // (4 * 1024 * 1024)))
    return cores, mem_kb // 1024, heap_gb


def run_proc(cmd, cwd, timeout, env=None, capture=False):
    """Run `cmd` in its own process group; on timeout kill the whole group."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s", 4)
    return p.returncode, out


def sources_mtime():
    latest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(base):
            latest = max(latest, os.path.getmtime(base))
        for d, _, files in os.walk(base):
            for f in files:
                latest = max(latest, os.path.getmtime(os.path.join(d, f)))
    return latest


def classpath():
    """Build the engine and harness if anything changed; return the classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= sources_mtime():
        with open(cp_file) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH", 3)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                          "export perfbench/Runtime/fullClasspath"],
                         HERE, BUILD_TIMEOUT_S, env=env, capture=True)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail("build failed", 3)
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def java_cmd(cp, heap_gb, main_args, jvm_flags=()):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + list(jvm_flags) +
            [f"-Xmx{heap_gb}g", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + main_args)


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {HERE}: run from a full checkout")
    if a.seed < 0:
        fail("--seed must be >= 0")

    cores, mem_mb, heap_gb = host()
    cp = classpath()
    common = ["--workload", a.workload, "--seed", str(a.seed), "--work", WORK,
              "--cores", str(cores)]
    # generation is not measured: a short-lived JVM with the quick-start
    # compiler; it returns at once when the inputs are already cached
    code, _ = run_proc(java_cmd(cp, heap_gb, ["gen"] + common, []),
                       ROOT, RUN_TIMEOUT_S)
    if code != 0:
        fail(f"input generation exited with {code}", 5)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    result = os.path.join(WORK, "results", tag + ".json")
    spans = os.path.join(WORK, "spans", tag + ".json")
    os.makedirs(os.path.dirname(result), exist_ok=True)
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    t0 = time.time()
    code, _ = run_proc(java_cmd(cp, heap_gb, ["run"] + common + [
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--result", result, "--spans", spans]), ROOT, RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(result):
        fail(f"benchmark run exited with {code}", 6)
    with open(result) as f:
        out = json.load(f)
    # the run computes more than it reports: keep the metrics BENCHMARK.json
    # lists for this mode (end-to-end untraced, per-layer traced)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = [m["name"] for m in json.load(f)["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in listed if n not in out["metrics"]]
    if missing:
        fail(f"run did not measure {', '.join(missing)}", 7)
    out["metrics"] = {n: out["metrics"][n] for n in listed}
    info = {"nproc": cores, "mem_total_mb": mem_mb, "heap_gb": heap_gb,
            "java": subprocess.run(["java", "-version"], capture_output=True,
                                   text=True).stderr.splitlines()[0],
            "spark": next((os.path.basename(p)[len("spark-core_2.13-"):-len(".jar")]
                           for p in cp.split(":")
                           if os.path.basename(p).startswith("spark-core_")), None),
            "git_sha": git_sha(), "run_wall_s": round(time.time() - t0, 3),
            "spans": os.path.relpath(spans, ROOT) if a.trace else None}
    print("host " + json.dumps(info))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
