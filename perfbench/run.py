#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --record --workload NAME   (rewrite golden.json entries)

Run from the root of a checkout. The base data is perfbench/fixture/sf0.01,
a byte copy of the engine's sf0.01 test fixture, checked against
perfbench/fixture/sf0.01.json. The first run builds the harness (build.py)
and writes the ×10 scale-up of the fixture into perfbench/.data with the
engine's graft.tools.StressGen. Every run verifies the data manifests first
and never regenerates data whose manifest exists.

The harness (perfbench.Main) then runs in its own JVM; its result JSON
is this script's last stdout line. Run records and span files go to
perfbench/.out.

Exit codes: 0 = all outputs correct; 1 = a key failed or an output
mismatched its golden entry (the result line is still printed); 2 = the
benchmark could not run (no result line).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
DATA = os.path.join(HERE, ".data")
X10 = os.path.join(DATA, "x10")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
MANIFEST = os.path.join(DATA, "manifest.json")
HEAP = "3g"
STRESS_CPUS = "4"  # fixed, so the ×10 data's file layout is the same on every box
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def java(build_dir, main, args, tmp, timeout, env=None, stdout=None):
    """Runs a JVM on the build's jar with `tmp` as its working and temporary
    directory, which is deleted afterwards."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + [
        "-Xlog:all=warning:stderr", f"-Xmx{HEAP}", f"-Xms{HEAP}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        "-cp", build.classpath(os.path.join(build_dir, "perfbench.jar")), main] + args)
    os.makedirs(tmp, exist_ok=True)
    try:
        proc = subprocess.Popen(cmd, cwd=tmp, env={**os.environ, **(env or {})},
                                stdout=stdout or sys.stderr, stderr=sys.stderr, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"{main} timed out after {timeout} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return proc.returncode, out


def file_digests(root):
    files = {}
    for d, _, names in os.walk(root):
        for n in sorted(names):
            p = os.path.join(d, n)
            rel = os.path.relpath(p, root)
            if rel == "manifest.json":
                continue
            with open(p, "rb") as fh:
                files[rel] = [os.path.getsize(p), hashlib.sha256(fh.read()).hexdigest()]
    return dict(sorted(files.items()))


def prepare_data(build_dir):
    """Checks the base fixture against its committed manifest, then
    generates the ×10 data once; afterwards only checks its manifest."""
    with open(FIXTURE + ".json") as fh:
        if file_digests(FIXTURE) != json.load(fh):
            raise RuntimeError(f"{FIXTURE} does not match {FIXTURE}.json")
    if os.path.exists(MANIFEST):
        with open(MANIFEST) as fh:
            manifest = json.load(fh)
        if file_digests(X10) != manifest["files"]:
            raise RuntimeError(f"{X10} does not match its manifest; delete {DATA} to regenerate")
        return manifest["datagen_s"]
    shutil.rmtree(DATA, ignore_errors=True)
    t0 = time.time()
    code, _ = java(build_dir, "graft.tools.StressGen", [X10, "10", FIXTURE],
                   os.path.join(WORK, f"gen{os.getpid()}"), 600,
                   env={"SPARK_GRAFT_CPUS": STRESS_CPUS})
    if code != 0:
        raise RuntimeError("StressGen failed")
    datagen_s = time.time() - t0
    manifest = {"datagen_s": datagen_s, "files": file_digests(X10)}
    with open(MANIFEST + ".tmp", "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.rename(MANIFEST + ".tmp", MANIFEST)
    return datagen_s


def commit(digest):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"source-{digest}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    try:
        build_dir, digest = build.build()
        datagen_s = prepare_data(build_dir)
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        log(f"cannot run: {e}")
        return 2
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--base", FIXTURE, "--x10", X10,
            "--golden", os.path.join(HERE, "golden.json"),
            "--out", OUT, "--commit", commit(digest), "--datagen-s", repr(datagen_s)]
    try:
        code, out = java(build_dir, "perfbench.Main", args + (["--record"] if a.record else []),
                         os.path.join(WORK, f"run{os.getpid()}"), 170,
                         stdout=subprocess.PIPE)
    except RuntimeError as e:
        log(str(e))
        return 2
    lines = [ln for ln in (out or "").splitlines() if ln.strip()]
    if code not in (0, 1) or not lines or not lines[-1].startswith("{"):
        log(f"harness exited with {code} and no result")
        return 2
    print(lines[-1], flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
