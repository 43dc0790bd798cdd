#!/usr/bin/env python3
"""Run one workload of the alcospark benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from
`src/main/scala` together with the harness in `perfbench/` (sbt, offline)
into `perfbench/target`, and remembers the classpath in `.bench_build/`;
later runs rebuild only when a source file changed. Each run starts one JVM
(one Spark session on local[nproc]) with its work dir under `.bench_work/`,
relays the JVM's report and ends with the JSON result line. The JVM's log
goes to `.bench_work/logs/`.

Exit status 0 means a result was printed; anything else means it was not.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these opened (the same list
# the repository's build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, in a stable order."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_command():
    cmd = ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"]
    return cmd


def build():
    """Compile engine + harness if needed; return the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(sbt_command() + ["export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=log, text=True, timeout=BUILD_TIMEOUT_S)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, digest


def commit_id(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-" + digest[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not a.workload.replace("_", "").isalnum():
        fail(f"bad workload name {a.workload!r}")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp, digest = build()

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    logs = os.path.join(WORK, "logs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               PERFBENCH_COMMIT=commit_id(digest))
    env.pop("SPARK_HOME", None)
    java = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "alcobench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--work", work])
    log_path = os.path.join(logs, run_id + ".log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct":')]
    if proc.returncode != 0 or not result:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        fail(f"run failed (exit {proc.returncode}); see {log_path}")
    for l in lines:
        if l is not result[-1]:
            print(l)
    print(f"run wall {time.time() - t0:.1f}s, log {os.path.relpath(log_path, ROOT)}")
    print(result[-1])


if __name__ == "__main__":
    main()
