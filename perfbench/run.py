#!/usr/bin/env python3
"""Benchmark entry point: builds the driver from source, runs one workload.

    python3 perfbench/run.py --workload vector_migrate --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first call compiles the repository's
library sources together with the driver in `perfbench/` (sbt, offline);
later calls reuse the build while the sources are unchanged. Everything the
run writes lands under `.bench_build/` in the checkout. The driver's
human-readable summary goes to stdout and the last stdout line is the
result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The exit code is 0 only when a result was produced.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("vector_migrate", "corpus_curate")
# per-layer metric prefixes of layers each workload does not call
NOT_EXERCISED = {
    "vector_migrate": ("ops.", "fn.", "job.quality", "job.near_dedup", "job.prep"),
    "corpus_curate": ("vs.", "wire.", "pg.", "pgwire.", "job.wire", "job.pg"),
}
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (same list as the
# root build's javaOptions).
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timeout after {timeout}s: {cmd[0]}")
        stop_group(proc)
        return None
    except BaseException:
        stop_group(proc)
        raise


def stop_group(proc):
    """SIGTERM first, so the driver's shutdown hooks stop the servers it
    started; SIGKILL whatever is left."""
    for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, None)):
        try:
            os.killpg(proc.pid, sig)
            proc.wait(timeout=grace)
        except (ProcessLookupError, subprocess.TimeoutExpired):
            pass


def build():
    """Compile (when needed) and return the runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            fresh, cp = f.read().strip() == digest, g.read().strip()
        if fresh and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    out_file = os.path.join(BUILD, "sbt.log")
    log("building the driver (first run in this checkout)")
    t0 = time.time()
    with open(out_file, "w") as out:
        rc = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true",
                          "-J-XX:-UsePerfData",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env,
                         stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    with open(out_file) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if not ln.startswith("[") and ".jar" in ln), None)
    if rc != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (sbt exit {rc}); log in {out_file}")
    log(f"build done in {time.time() - t0:.0f}s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def pg_tmpdir(tmp):
    """Temp root for the throwaway PostgreSQL server.

    The server runs as the `postgres` user and listens on a Unix socket
    under its data root, so that root must be reachable by that user and
    its path short enough for a socket name. The checkout's own temp dir is
    used when it qualifies; otherwise the system temp dir (the server's
    directory is removed when the run ends either way)."""
    os.chmod(tmp, 0o1777)
    if len(tmp) <= 64 and shutil.which("runuser"):
        probe = subprocess.run(["runuser", "-u", "postgres", "--", "test",
                                "-w", tmp], stdin=subprocess.DEVNULL,
                               stdout=subprocess.DEVNULL,
                               stderr=subprocess.DEVNULL)
        if probe.returncode == 0:
            return tmp
    import tempfile
    return tempfile.gettempdir()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no library sources (src/main/scala/graft) next to perfbench/")
        return 2
    os.makedirs(BUILD, exist_ok=True)
    cp = build()

    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result_file = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env.pop("SPARK_GRAFT_MINHASH_PREFILTER", None)
    java_tmp = pg_tmpdir(tmp) if args.workload == "vector_migrate" else tmp
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={java_tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", ROOT, "--work", run_dir,
            "--result", result_file]
    with open(os.path.join(run_dir, "driver.log"), "w") as out:
        rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=run_dir, env=env,
                         stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    if not os.path.exists(result_file):
        with open(os.path.join(run_dir, "driver.log"), errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        log(f"driver exited with {rc}; no result")
        return 1
    with open(result_file) as f:
        res = json.load(f)
    attempted, failed = res["attempted"], res["failed"]
    for err in res["errors"]:
        print(f"{args.workload} FAILED {err}")
    print(f"{args.workload} fail_ratio = {failed / max(attempted, 1):.6g} "
          f"({failed} of {attempted} jobs; {res['samples']} timed cycles)")
    if rc != 0:
        log(f"driver exited with {rc}; see {run_dir}/driver.log")
        return 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    values = res["values"]
    if args.trace:
        # layers a workload never calls spend no time and bytes there
        for m in wanted:
            if m["name"].startswith(NOT_EXERCISED[args.workload]):
                values.setdefault(m["name"], 0.0)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        log(f"no value for: {', '.join(missing)}")
        return 1
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": res["complete"] and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
