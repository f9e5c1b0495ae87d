#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while no source file changed. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, measured in a run that also
records spans and Spark counters (written next to the result under
perfbench/out/). A layer the workload does not call reads 0.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(BENCH, "out")
BUILD = os.path.join(BENCH, "target", "perfbench-build")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these when a SparkSession starts outside
# spark-submit (as in the engine's own build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")))


def source_stamp():
    """Digest of every file the build reads, by path, size and mtime."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()


def classpath():
    """Build when the sources changed since the last build; return the
    runtime classpath of the benchmark (engine classes and Spark jars)."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("perfbench: building the engine and the benchmark with sbt")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    proc = subprocess.Popen(cmd, cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, start_new_session=True)
    try:
        output, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    finally:
        stop(proc)
    lines = output.splitlines()
    cps = [l for l in lines if "classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        log("\n".join(lines[-40:]))
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f}s")
    return cps[-1].strip()


def stop(proc):
    """Kill the process group of a child still running, and reap it."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def other_jvms():
    """Live java/sbt processes; read while this run's JVM is not running."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() in ("java", "sbt"):
                    n += 1
        except OSError:
            pass
    return n


def run_jvm(cp, args, work, result):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", result]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"perfbench: run exceeded {RUN_TIMEOUT_S}s and was killed")
        return -1
    finally:
        stop(proc)


def select(spec, raw, trace):
    """The metrics this mode reports, named and labelled as BENCHMARK.json
    says. End-to-end metrics must all be measured and positive; per-layer
    metrics of layers the workload does not call read 0."""
    values = raw["metrics"]
    out = {}
    if trace == 0:
        for m in spec["end_to_end"]:
            v = values.get(m["name"])
            if not isinstance(v, (int, float)) or not math.isfinite(v) or v <= 0:
                raise SystemExit(f"perfbench: end-to-end metric {m['name']} not measured ({v})")
            out[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        e2e = {m["name"] for m in spec["end_to_end"]}
        for m in spec["per_layer"]:
            name = m["name"]
            # trace.<metric>: the end-to-end metric measured with tracing on;
            # its difference from the untraced run is the tracing overhead
            key = name[len("trace."):] if name.startswith("trace.") and name[6:] in e2e else name
            v = values.get(key)
            if not isinstance(v, (int, float)) or not math.isfinite(v):
                v = 0.0
            out[name] = {"value": v, "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not sources_present():
        log("perfbench: no engine sources here (build.sbt, src/main/scala/graft, BENCHMARK.json)")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"perfbench: unknown workload {args.workload}")
        return 2
    cp = classpath()

    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    result = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    for stale in (result, result + ".spans.jsonl"):
        if os.path.exists(stale):
            os.remove(stale)
    host = {"load1": [load1()], "other_jvms": [other_jvms()]}
    t0 = time.time()
    try:
        code = run_jvm(cp, args, work, result)
        host["run_s"] = round(time.time() - t0, 1)
        host["load1"].append(load1())
        host["other_jvms"].append(other_jvms())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"host": host}))
    if code != 0 or not os.path.isfile(result):
        log(f"perfbench: run failed (exit {code})")
        return 1
    with open(result) as f:
        raw = json.load(f)
    metrics = select(spec, raw, args.trace)
    print(json.dumps({"correct": raw["failed"] == 0, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
