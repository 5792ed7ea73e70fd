#!/usr/bin/env python3
"""Runs one knowledge-engine benchmark run and prints its result.

    python3 kebench/run.py --workload serve_hybrid --seed 1 --seconds 12 --trace 0

Run it from the repository root. The first run builds graft and the
benchmark from source with sbt (kebench/build.sbt) and caches the
classpath under .kebench/; later runs start the JVM directly, so no
sbt log prefix (`[info] `) ever reaches stdout. The last line of stdout
is the JSON result; see kebench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".kebench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these outside spark-submit; the root build.sbt
# passes the same list to its forked runs.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg):
    print(f"kebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change needs a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Builds graft and the benchmark when their sources changed, and
    returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to kebench/: run from a full checkout")
    stamp = os.path.join(WORK, "build.stamp")
    cpfile = os.path.join(WORK, "classpath.txt")
    want = digest(source_files())
    if os.path.isfile(stamp) and os.path.isfile(cpfile):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                with open(cpfile) as fc:
                    return fc.read().strip()
    os.makedirs(WORK, exist_ok=True)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = out.stdout.splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if out.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cpfile, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(want)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = classpath()
    work = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] +
           [f"--add-opens={p}=ALL-UNNAMED" for p in OPENS] +
           ["-cp", cp, "kebench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # the JVM prints notes, then the result as its last line; a run
    # whose gates failed still prints its result, and exits non-zero
    lines = [l[len("[info] "):] if l.startswith("[info] ") else l
             for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(lines) + "\n" if lines else "")
        fail(f"run failed with exit code {proc.returncode}")
    print("\n".join(lines))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
