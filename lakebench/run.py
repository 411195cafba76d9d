#!/usr/bin/env python3
"""Run one workload of the lake benchmark.

    python3 lakebench/run.py --workload serve_read --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. The benchmark itself runs in one JVM, whose last
stdout line is the result JSON. Source tables come from the sf0.01 and sf0.1
test data directories: the parent of SPARK_GRAFT_SF_DIR if that is set, or
else of the sf0.1 directory TESTDATA.md lists.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch")
WORK = os.path.join(TARGET, "run")
HEAP = "4g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, engine and benchmark."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    want = stamp()
    stamp_file = os.path.join(LAUNCH, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return
    print("lakebench: building engine and benchmark with sbt", file=sys.stderr)
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFiles"],
                            cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    if wait(proc, BUILD_TIMEOUT_S) != 0:
        fail("build failed", 3)
    with open(stamp_file, "w") as fh:
        fh.write(want)


def wait(proc, timeout):
    """Waits for `proc`; on timeout kills its whole process group."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -1


def testdata():
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        doc = os.path.join(ROOT, "TESTDATA.md")
        m = os.path.isfile(doc) and re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", open(doc).read(), re.M)
        if not m:
            fail("no test data: set SPARK_GRAFT_SF_DIR to its sf0.1 directory")
        d = m.group(1)
    parent = os.path.dirname(os.path.abspath(d.rstrip("/")))
    for sf in ("sf0.01", "sf0.1"):
        if not os.path.isfile(os.path.join(parent, sf, "lineitem.parquet")):
            fail(f"no {sf}/lineitem.parquet under {parent}")
    return parent


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found: run from the root of a full checkout")
    data = testdata()
    build()
    cp = open(os.path.join(LAUNCH, "classpath.txt")).read().strip()
    jvm = [o for o in open(os.path.join(LAUNCH, "jvm_options.txt")).read().split("\n")
           if o and not o.startswith("-Xmx")]
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + jvm + ["-cp", cp, "lakebench.Main",
                    "--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", a.trace,
                    "--testdata", data, "--work", WORK])
    proc = subprocess.Popen(cmd, cwd=WORK, start_new_session=True)
    code = wait(proc, RUN_TIMEOUT_S)
    shutil.rmtree(WORK, ignore_errors=True)
    if code != 0:
        fail(f"benchmark exited with {code}", 1)


if __name__ == "__main__":
    main()
