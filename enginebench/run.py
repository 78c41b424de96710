#!/usr/bin/env python3
"""Engine benchmark entry point.

Builds the engine and the harness from source (once per source state),
then runs one workload in a fresh JVM and prints the harness's result
line as the last line of standard output.

    python3 enginebench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Workloads: analytics, pipeline-warm, pipeline-cold (see README.md).
Everything the run writes goes under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(OUT, "sbt-target", "classpath.txt")
DATA = os.path.join(HERE, "data")
REFERENCE = os.path.join(HERE, "reference.tsv")
STAMP = os.path.join(OUT, "build.stamp")

WORKLOADS = ("analytics", "pipeline-warm", "pipeline-cold")
# Untimed warm-up passes before the timed window. Sized by when the
# JIT's compile time per pass levels off (README.md, "Warm-up").
WARMUP = {"analytics": 2, "pipeline-warm": 4, "pipeline-cold": 3}
# Timed passes: a fixed amount of work per run, so that two versions of
# the engine time the same invocations. --seconds is divided by a steady
# pass's wall time on a 4-vCPU VM at the committed scale; at least two.
PASS_S = {"analytics": 2.5, "pipeline-warm": 1.25, "pipeline-cold": 2.5}
THREADS = 2     # Spark local[] threads; capped at nproc below
HEAP = "2g"     # fixed heap: -Xms = -Xmx
DEADLINE_S = 175  # a run must end within this, build excluded

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"enginebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of the sources and build definition the build compiles, so
    a changed engine or harness triggers a rebuild."""
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(names)]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    sbt_home = os.path.join(OUT, "sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={sbt_home}/global",
           f"-Dsbt.boot.directory={sbt_home}/boot",
           f"-Dsbt.ivy.home={sbt_home}/ivy2",
           "exportClasspath"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd.insert(3, f"-Dsbt.repository.config={repos}")
    print("enginebench: building ...", file=sys.stderr)
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def host_sample():
    """1-minute load average and the cumulative steal/total jiffies."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    steal = cpu[7] if len(cpu) > 7 else 0
    return load1, steal, sum(cpu[:8])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="merge observed fingerprints into reference.tsv")
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    if not os.path.isdir(DATA):
        fail(f"data directory not found: {DATA}")
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    tmp = os.path.join(OUT, "tmp", f"{tag}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    threads = min(THREADS, os.cpu_count() or 1)
    passes = max(2, round(a.seconds / PASS_S[a.workload]))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "enginebench.EngineBench",
            "--workload", a.workload, "--data", DATA,
            "--reference", REFERENCE, "--seed", str(a.seed),
            "--passes", str(passes), "--warmup", str(WARMUP[a.workload]),
            "--threads", str(threads), "--record", "1" if a.record else "0"]
    if a.trace:
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        cmd += ["--trace", os.path.join(OUT, "traces", tag + ".json")]

    load0, steal0, total0 = host_sample()
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {DEADLINE_S} s")
    load1, steal1, total1 = host_sample()
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        fail(f"harness exited {proc.returncode} without a result")
    info = json.loads(lines[-2])["info"]
    result = json.loads(lines[-1])
    info.update({
        "heap": HEAP, "nproc": os.cpu_count(),
        "run_wall_s": round(time.time() - t0, 3),
        "load1_start": load0, "load1_end": load1,
        "steal_pct": round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 3),
    })
    with open(os.path.join(OUT, "results", tag + ".json"), "w") as fh:
        json.dump({"info": info, "result": result}, fh, indent=1)
    print(json.dumps({"info": info}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
