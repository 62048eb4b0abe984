#!/usr/bin/env python3
"""Run one benchmark workload.

    python3 perfbench/run.py --workload <etl_stream|curation_batch> \
        --seed <n> --seconds <s> --trace <0|1> [--inject drop|dup]

Run from the repository root. The first run compiles the library's sources
together with the harness (sbt, offline) into perfbench/target; later runs
reuse that build while the sources are unchanged. The last line of stdout
is the result JSON. Outputs (span files, layer summaries, Spark's local
files) go to perfbench/out. Spark comes from SPARK_HOME, or from the
distribution that holds `spark-submit` on the PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CP_FILE = os.path.join(TARGET, "perfbench.classpath")
STAMP_FILE = os.path.join(TARGET, "perfbench.stamp")
OUT = os.path.join(HERE, "out")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every input of the build: library and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.isdir(r):
            return None
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if not os.path.isfile(f):
            return None
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(exe))) if exe else None
    return home


def build():
    stamp = source_stamp()
    if stamp is None:
        log("library or harness sources are missing; cannot build")
        return None
    if os.path.isfile(CP_FILE) and os.path.isfile(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                with open(CP_FILE) as g:
                    return g.read().strip()
    env = dict(os.environ)
    if spark_home() is None:
        log("no Spark distribution: set SPARK_HOME")
        return None
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        log("build failed: %s" % e)
        return None
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        log("build failed (exit %d)" % p.returncode)
        return None
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(cp)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return cp


def main(argv):
    cp = build()
    if cp is None:
        return 1
    tmp = os.path.join(OUT, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
            "-Xlog:disable", "-Xlog:all=warning:stderr", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dperfbench.home=" + HERE,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Main"] + argv
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        log("run exceeded %d s" % RUN_TIMEOUT_S)
        return 1
    finally:
        subprocess.run(["rm", "-rf", tmp])
    # the result object must be the last line, whatever else the JVM wrote
    lines = out.split("\n")
    result = [l for l in lines if l.startswith('{"correct":')]
    for l in lines:
        if l.strip() and l not in result:
            print(l)
    if code != 0 or len(result) != 1:
        log("run failed (exit %d, %d result lines)" % (code, len(result)))
        return code or 1
    print(result[0], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
