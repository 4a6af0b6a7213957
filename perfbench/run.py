#!/usr/bin/env python3
"""Run one graft benchmark workload and print its JSON result last on stdout.

    python3 perfbench/run.py --workload er_web --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds graft and
the harness from source with sbt (offline) and caches the classpath under
perfbench/.build; later runs reuse it while the sources are unchanged.
`--record-goldens` rewrites the catalog fingerprint goldens instead of
checking them.
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("er_web", "catalog")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"

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


def source_files():
    """Every file the build reads, as paths relative to the repository root."""
    picked = []
    for base in ("build.sbt", "project", "src/main",
                 "perfbench/build.sbt", "perfbench/project", "perfbench/src/main"):
        path = os.path.join(ROOT, base)
        if os.path.isfile(path):
            picked.append(base)
        for d, subdirs, files in os.walk(path):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            picked += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(picked)


def stamp():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so nothing it started outlives this call."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return proc.returncode, out, err


def classpath():
    os.makedirs(BUILD, exist_ok=True)
    want = stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            rc, out, _ = run_bounded(
                [sbt, "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                 "export perfbench/Runtime/fullClasspath"],
                BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                stdout=subprocess.PIPE, stderr=log, text=True)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        log.write(out)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed; see {os.path.join(BUILD, 'build.log')}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def check_result(line):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(res)}")
    if not isinstance(res["correct"], bool) or res["attempted"] < 1:
        raise ValueError("bad correct/attempted")
    for name, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {name}")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--record-goldens", action="store_true")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources at {ROOT}: run from a checkout of the repository")

    cp = classpath()
    java = shutil.which("java")
    if java is None:
        fail("java not found")
    run_dir = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # a fixed heap and the throughput collector: no heap growth phase and no
    # concurrent collector threads competing with the task threads
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp]
    cmd[1:1] = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["perfbench.Harness", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", run_dir,
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--goldens", os.path.join(HERE, "goldens", "catalog_sf0.01.json")]
    if a.record_goldens:
        cmd.append("--record-goldens")
    log_path = os.path.join(WORK, f"{a.workload}-trace{a.trace}.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            rc, out, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL,
                                     stdout=subprocess.PIPE, stderr=log, text=True)
        except subprocess.TimeoutExpired:
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"run timed out after {RUN_TIMEOUT_S}s; see {log_path}", 1)
    record = os.path.join(run_dir, f"{a.workload}-trace{a.trace}.json")
    if os.path.exists(record):
        shutil.copy(record, os.path.join(WORK, f"last-{a.workload}-trace{a.trace}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if rc != 0 or not lines:
        fail(f"harness exited {rc} after {time.time() - t0:.0f}s; see {log_path}", 1)
    try:
        check_result(lines[-1])
    except ValueError as e:
        fail(f"malformed result: {e}", 1)
    print(lines[-1])


if __name__ == "__main__":
    main()
