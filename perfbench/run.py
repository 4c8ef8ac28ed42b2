#!/usr/bin/env python3
"""Build the perfbench harness from source and run one workload.

Usage, from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--record FILE]

The harness (perfbench/build.sbt) compiles the engine's main sources
together with perfbench/src, once per source state; later runs start it
with plain `java`. Build outputs and run scratch stay inside the checkout
(perfbench/target, .bench_build/). The last stdout line is the JSON result;
the full record (configuration, sample quartiles, traced layers and spans)
goes to --record, by default .bench_build/perfbench/records/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ingest_backlog", "ingest_live", "dashboard", "declared_mix")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# declared_mix is not gated: its SparkEntry.prepare set-up alone takes 70-90 s
MIX_TIMEOUT_S = 420
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; the whole group is
    killed on timeout, or when this script is itself interrupted or terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def stop(signum, _frame):
        kill()
        sys.exit(128 + signum)

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        kill()
        return None, None
    finally:
        for s, h in previous.items():
            signal.signal(s, h)


def build(digest):
    """Compiles the harness unless this source state is already built."""
    stamp = os.path.join(STATE, "build.stamp")
    cp = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return cp
    if shutil.which("sbt") is None:
        log("sbt not found on PATH")
        sys.exit(2)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx3g")
    log(f"building harness for sources {digest}")
    code, _ = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr,
                        stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(cp):
        log(f"build failed (exit {code})")
        sys.exit(2)
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return cp


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record")
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(HERE, "build.sbt"))):
        log(f"no engine sources under {ROOT}/src/main/scala; run from the repository root")
        sys.exit(2)
    digest = source_digest()
    cp_file = build(digest)
    with open(cp_file) as fh:
        cp = fh.read().strip()

    work = os.path.join(STATE, f"work-{os.getpid()}")
    record = a.record or os.path.join(
        STATE, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "yamonbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--record", os.path.abspath(record)]
    env = dict(os.environ, PERFBENCH_COMMIT=commit(), PERFBENCH_SOURCE_DIGEST=digest)
    timeout = MIX_TIMEOUT_S if a.workload == "declared_mix" else RUN_TIMEOUT_S
    try:
        code, out = run_group(cmd, timeout, env=env, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        log(f"run exceeded {timeout} s and was killed")
        sys.exit(3)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if not lines or not lines[-1].startswith("{"):
        log(f"harness exited {code} without a result")
        sys.exit(code or 1)
    print(lines[-1], flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
