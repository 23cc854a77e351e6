#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
repo's main sources with sbt (offline) and caches the launch spec under
$CARGO_TARGET_DIR (default .bench_build); later runs start the harness
JVM directly. Extra flags: --pin (re-pin output digests into
perfbench/expected.json), --trace-out <file> (where a traced run dumps
its per-layer split for perfbench/trace_report.py).
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

WORKLOADS = ("board", "stream-sink")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"),
              os.path.join(root, "project", "build.properties"),
              os.path.join(root, "perfbench", "build.sbt")]
    for top in ("src/main", "perfbench/src"):
        for d, _, files in sorted(os.walk(os.path.join(root, top))):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def build(root, out):
    """Compile with sbt once per source digest; return (classpath, jvm flags)."""
    launch = os.path.join(out, "launch.txt")
    stamp = os.path.join(out, "launch.digest")
    digest = source_digest(root)
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        os.makedirs(out, exist_ok=True)
        log = os.path.join(out, "build.log")
        with open(log, "w") as f:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 f"-Dperfbench.launch={launch}", "launchSpec"],
                cwd=os.path.join(root, "perfbench"), env=sbt_env(),
                stdout=f, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0 or not os.path.exists(launch):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"build failed (log: {log})")
        with open(stamp, "w") as f:
            f.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--trace-out")
    args = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, "perfbench")
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout holding the repo's sources")
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath, jvm_flags = build(root, out)

    tmp = os.path.join(out, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(bench, "log4j2.properties")] +
           jvm_flags +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--bench-dir", bench, "--tmp", tmp,
            "--launched-ms", str(int(time.time() * 1000))])
    if args.pin:
        cmd += ["--pin", os.path.join(bench, "expected.json")]
    if args.trace_out:
        cmd += ["--trace-out", os.path.abspath(args.trace_out)]
    # the harness JVM gets its own process group, so a timeout or a
    # terminated run.py stops everything it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    results = [l[len("PERFBENCH_RESULT "):] for l in stdout.splitlines()
               if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not results:
        fail(f"harness exited {proc.returncode} without a result")
    result = json.loads(results[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
