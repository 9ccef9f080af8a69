"""Builds the benchmark JVM (engine sources + driver) with sbt and sizes
it from the machine it runs on.
"""
import hashlib
import os
import subprocess

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    """CPUs this process may run on: Spark's local[N] and the client cap."""
    return len(os.sched_getaffinity(0))


def heap_mb():
    """JVM heap: an eighth of physical memory, between 1 and 2 GiB, so
    the benchmark stays small beside other tenants of the machine."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(2048, total_kb // 1024 // 8))


def _sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def fingerprint():
    h = hashlib.sha256()
    for p in sorted(_sources()):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(log_path):
    """The driver's runtime classpath, compiling first when any source
    changed since the last build."""
    stamp = os.path.join(BENCH, "target", "graftbench.classpath")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved_fp, cp = f.read().split("\n", 1)
        if saved_fp == fp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if not l.startswith("[") and "/classes" in l]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"sbt build failed (exit {proc.returncode}); see {log_path}")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(fp + "\n" + cp)
    return cp
