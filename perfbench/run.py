#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine together with the harness in perfbench/ (sbt, offline)
whenever the sources differ from the ones last built, then runs the
workload in a fresh JVM on local[nproc]. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}.

Environment:
    GRAFTBENCH_SF_DIR   input tables (default /root/testdata/sf0.1)
"""
import argparse
import fcntl
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("registry_sweep", "lake_mixed")
# A run must end well inside the 180 s a caller allows it.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(BENCH, "build.sbt"),
           os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(BENCH, "src", "main", "scala")):
        for d, _, files in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".scala")]
    return out


def source_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles unless the last build was of these exact sources; returns
    the runtime classpath. The build writes one shared target directory,
    so the stamp names the sources that directory holds now."""
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "built.json")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = source_hash()
        try:
            with open(stamp) as f:
                built = json.load(f)
        except (OSError, ValueError):
            built = {}
        if built.get("hash") == want:
            return built["classpath"]
        # the target directory is about to change: no stamp may vouch for it
        if os.path.exists(stamp):
            os.remove(stamp)
        log("building engine and harness with sbt")
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
        lines = [l for l in p.stdout.splitlines()
                 if l.startswith("/") and "target" in l]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:])
            raise SystemExit(f"build failed (sbt exit {p.returncode})")
        built = {"hash": want, "classpath": lines[-1].strip()}
        with open(stamp + ".tmp", "w") as f:
            json.dump(built, f)
        os.replace(stamp + ".tmp", stamp)
        return built["classpath"]


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        raise SystemExit(f"no engine sources at {engine}: run from a full checkout")
    sf = os.environ.get("GRAFTBENCH_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(sf):
        raise SystemExit(f"no input tables at {sf}")

    t0 = time.time()
    cp = build()
    t1 = time.time()
    work = os.path.join(WORK, a.workload)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dgraft.cache.root={os.path.join(work, 'engine-cache')}",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--sf", sf, "--work", work, "--bench", BENCH]
    env = dict(os.environ, GRAFTBENCH_COMMIT=commit())
    # one run per workload at a time: runs share the work directory
    lock = open(os.path.join(WORK, f"{a.workload}.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    # own process group: a timeout stops the JVM and any JVM it started
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    log(f"build check {t1 - t0:.1f} s, workload process {time.time() - t1:.1f} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"{a.workload} exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed result line: {lines[-1][:200]}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
