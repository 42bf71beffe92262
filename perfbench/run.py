#!/usr/bin/env python3
"""Benchmark of the engine's three user paths: the batch query suite
(`analytics`), open-loop stream ingest (`ingest`) and the HTTP API (`api`).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload analytics|ingest|api --seed N \
        --seconds S --trace 0|1 [--record]

The first run builds the engine and the harness from source with sbt (the
harness is the sbt build in this directory) and caches the classpath under
perfbench/target. Each run starts one JVM, sized to the host: local[nproc]
with nproc shuffle partitions, and a heap of half of MemTotal clamped to
2..8 GiB. All scratch files go to perfbench/.work/<run> and are deleted at
exit; the per-run trace file goes to perfbench/out/.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. A traced run also
prints its tracing overhead: its end-to-end figures minus the median of
the untraced runs of the same workload, build, workload parameters and
--seconds recorded in perfbench/out/.

--record rewrites perfbench/expected/analytics.json from this run's
answers instead of checking them; use it only on a tree whose answers were
verified against the oracle.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics", "ingest", "api")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads from this checkout, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(want):
    """Compile engine and harness unless the cached classpath is current."""
    stamp = os.path.join(HERE, "target", "perfbench-classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == want:
            return cached["classpath"]
    t0 = time.time()
    env = dict(os.environ)
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve from the local caches only, as the tier-1 build does
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
        env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cps = [ln for ln in lines if os.pathsep in ln and ln.strip().endswith(".jar")
           and not ln.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": want, "classpath": cps[-1].strip()}, fh)
    print(f"[perfbench] built engine and harness in {time.time() - t0:.1f} s", flush=True)
    return cps[-1].strip()


def heap_gib():
    """Half of MemTotal, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            for ln in fh:
                if ln.startswith("MemTotal:"):
                    return min(8, max(2, int(ln.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def ledger_overhead(ledger, run, traced):
    """Traced end-to-end figures minus the median of the untraced runs of
    the same workload, build, workload parameters and run length."""
    base = {}
    if os.path.exists(ledger):
        with open(ledger) as fh:
            for ln in fh:
                r = json.loads(ln)
                if not r["trace"] and all(r.get(k) == run[k]
                                          for k in ("workload", "build", "params", "seconds")):
                    for k, v in r["e2e"].items():
                        base.setdefault(k, []).append(v)
    out = []
    for k, v in traced.items():
        if base.get(k):
            m = statistics.median(base[k])
            share = (v - m) / m if m else float("nan")
            out.append(f"[perfbench] tracing overhead {k}: {v:.4f} traced vs "
                       f"{m:.4f} untraced median of {len(base[k])} runs ({share:+.1%})")
    return out or ["[perfbench] tracing overhead: no untraced run of this "
                   "workload, build, parameters and run length recorded in this checkout yet"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no engine sources next to {HERE} (need ../build.sbt and ../src/main/scala/graft)")

    build_digest = digest()
    classpath = build(build_digest)
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    out_dir = os.path.join(HERE, "out")
    trace_file = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap_gib()}g", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(nproc()), "--root", HERE, "--work", work,
            "--out", trace_file, "--record", "1" if a.record else "0"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    pending = None

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, lambda *x: (kill(), sys.exit(3)))
    timer = threading.Timer(JVM_TIMEOUT_S, kill)
    timer.daemon = True
    timer.start()
    try:
        for line in proc.stdout:
            if pending is not None:
                print(pending, flush=True)
            pending = line.rstrip("\n")
        code = proc.wait()
    finally:
        timer.cancel()
        kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass
    if code != 0 or pending is None or not pending.startswith("{"):
        if pending is not None:
            print(pending, file=sys.stderr)
        die(f"harness failed (exit {code})")
    result = json.loads(pending)
    with open(trace_file) as fh:
        figures = json.load(fh)
    # the gated metrics and the wall-clock end-to-end ones (names without a dot)
    e2e = {m["name"]: m["value"] for m in figures["end_to_end"] + figures["detail"]
           if "." not in m["name"] and m["value"] is not None}
    ledger = os.path.join(out_dir, "results.jsonl")
    with open(os.path.join(HERE, "workloads.json"), "rb") as fh:
        params = hashlib.sha256(fh.read()).hexdigest()
    run = {"workload": a.workload, "build": build_digest, "params": params,
           "seconds": a.seconds, "seed": a.seed, "trace": a.trace}
    if a.trace:
        for ln in ledger_overhead(ledger, run, e2e):
            print(ln)
    with open(ledger, "a") as fh:
        fh.write(json.dumps(dict(run, correct=result["correct"], e2e=e2e)) + "\n")
    print(pending, flush=True)


if __name__ == "__main__":
    main()
