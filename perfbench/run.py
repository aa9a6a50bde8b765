#!/usr/bin/env python3
"""Workload benchmark for the graft food-orders engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <orders_batch|orders_stream|
        corpus_curation> --seed <n> --seconds <s> --trace <0|1>
        --stream-rate <files/s>

BENCHMARK.json (at the checkout's root) gives the stream rate in its
command line and lists the metrics each mode reports.

Builds the engine from the checkout's sources (perfbench/build.sbt, output
under $CARGO_TARGET_DIR or .bench_build) when they changed since the last
build, runs the workload in one JVM, and relays its report. The last stdout
line is one JSON object: correct, attempted, failed and metrics (end-to-end
metrics with --trace 0; with --trace 1 every per-layer metric, those of a
layer the workload leaves idle as 0). Exits non-zero, without a result
line, when the build or the run fails; exits 1 after the result line when
a correctness check failed.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(CHECKOUT, "src", "main", "scala")
WORKLOADS = ("orders_batch", "orders_stream", "corpus_curation")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
# what spark-submit would pass on JDK 17 (the engine's build sets the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(CHECKOUT, d)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, CHECKOUT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build(bdir):
    """Compile engine + benchmark with sbt unless the stamp is current;
    returns the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    os.makedirs(bdir, exist_ok=True)
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "build.stamp")
    with open(os.path.join(bdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        current = (os.path.exists(cp_file) and os.path.exists(stamp_file)
                   and open(stamp_file).read() == stamp)
        if not current:
            env = dict(os.environ, COURSIER_MODE="offline")
            opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                    "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
            env["CARGO_TARGET_DIR"] = bdir
            log = os.path.join(bdir, "build.log")
            with open(log, "w") as out:
                try:
                    rc = subprocess.run(
                        ["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "writeClasspath"], cwd=HERE, env=env, stdout=out,
                        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                        timeout=BUILD_TIMEOUT_S).returncode
                except (OSError, subprocess.TimeoutExpired) as e:
                    rc = f"{e}"
            if rc != 0 or not os.path.exists(cp_file):
                with open(log) as f:
                    sys.stderr.write("".join(f.readlines()[-40:]))
                fail(f"build failed ({rc}); log: {log}")
            with open(stamp_file, "w") as f:
                f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def declared_metrics(trace):
    """Metric name -> unit that BENCHMARK.json declares for this mode, in
    its order."""
    path = os.path.join(CHECKOUT, "BENCHMARK.json")
    try:
        with open(path) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read {path}: {e}")
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--stream-rate", type=float, required=True)
    a = ap.parse_args()
    want = declared_metrics(a.trace == 1)

    bdir = build_dir()
    cp = build(bdir)
    work = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(bdir, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work-dir", work, "--stream-rate", str(a.stream_rate),
            "--trace-file", os.path.join(
                bdir, "traces", f"{a.workload}-seed{a.seed}.json")])
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=CHECKOUT, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}", 4)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n") if out.strip() else []
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(out)
        fail(f"no result line (exit {proc.returncode}); log: {log}", 5)
    got = result["metrics"]
    wrong = {k: v["unit"] for k, v in got.items() if want.get(k) != v["unit"]}
    missing = set(want) - set(got)
    if wrong or (missing and a.trace == 0):
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(missing)}, "
             f"unknown or with another unit {wrong}", 6)
    # per-layer metrics of layers this workload leaves idle read 0
    result["metrics"] = {k: got.get(k, {"value": 0.0, "unit": u})
                         for k, u in want.items()}
    lines[-1] = json.dumps(result)
    print("\n".join(lines))
    sys.stdout.flush()
    if proc.returncode != 0 or not result["correct"]:
        print(f"[perfbench] correctness checks failed; log: {log}",
              file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
