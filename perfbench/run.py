#!/usr/bin/env python3
"""graft's benchmark: one named workload, one seed, one JSON line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 12 --trace 0

Run it from the repository root. It compiles graft and the benchmark's
JVM side (perfbench/scala) into $CARGO_TARGET_DIR (default .bench_build)
when their sources changed, runs the workload in one JVM, checks the
outputs, and prints as its last line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced
run also writes its spans to <build>/traces/. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("batch", "eventlog", "ingest")
CPUS = 4
JVM_TIMEOUT_S = 170
# -XX:TieredStopAtLevel=1: C1 only. Within a run this short, how far C2 has
# got varied between runs of the same code and moved whole runs by up to 2x;
# C1 alone gives the same code the same times (see NOTES.md).
# -XX:ReservedCodeCacheSize=256m: with C1 only the code cache defaults to
# 48 MB, which a batch run fills after about 45 s; from then on the sweeper
# flushes and recompiles code, and whichever key runs then takes up to twice
# as long (see NOTES.md).
# -XX:G1HeapRegionSize=16m: with the default 1 MB regions, Spark's buffers of
# half a megabyte and more are humongous objects; each one allocated while
# the small adaptive heap was nearly full started a concurrent mark cycle,
# and in some event-log runs cycle followed cycle (268 GC pauses in one run
# against 56-82 in others), which made its produces and polls up to 1.8x
# slower (see NOTES.md).
# -XX:-UsePerfData: no hsperfdata file outside the checkout.
JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:G1HeapRegionSize=16m", "-XX:ReservedCodeCacheSize=256m",
            "-XX:-UsePerfData", "-Xss16m", "-Xmx3g",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
# what spark-submit would add on JDK 17 (build.sbt passes the same list)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory graft builds against: $SPARK_HOME/jars, else
    the `unmanagedBase` that build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources(root):
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("no graft sources under src/main/scala: run from the repository root")
    return srcs + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))


def build(root, build_dir, jars):
    """Compile graft and the harness with scalac (from the Spark jars) into a
    directory named by the sources' hash; reuse it while they are unchanged."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-nowarn", "-d", tmp] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.rename(tmp, out)
    return out


def run_jvm(workload, seed, seconds, trace, classes, jars, work):
    out = os.path.join(work, "records.jsonl")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + JVM_OPTS +
           [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
            "perfbench.Harness",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--data", os.path.join(HERE, "data"), "--work", work, "--out", out,
            "--spawn-ns", str(time.time_ns()), "--cpus", str(CPUS)])
    os.makedirs(f"{work}/tmp")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    records = []
    if os.path.exists(out):
        with open(out) as f:
            records = [json.loads(line) for line in f if line.strip()]
    return code, records


def read_delivered(work):
    path = os.path.join(work, "delivered.csv")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [(g, int(p), int(o), int(i), int(d), int(r))
                for g, p, o, i, d, r in (line.strip().split(",") for line in f if line.strip())]


def write_spans(build_dir, run_id, spans):
    os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
    path = os.path.join(build_dir, "traces", f"{run_id}.spans.jsonl")
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps({"run": run_id, "id": s["id"], "name": s["name"],
                                "layer": s["layer"], "parent": s["parent"],
                                "start": s["start"], "end": s["end"]}) + "\n")
    return path


def execute(workload, seed, seconds, trace):
    """Build if needed and run one workload; returns (exit code, records,
    delivered messages, build dir)."""
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jars = spark_jars(root)
    classes = build(root, build_dir, jars)
    work = os.path.join(build_dir, "work", f"{workload}-seed{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, records = run_jvm(workload, seed, seconds, trace, classes, jars, work)
        delivered = read_delivered(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code, records, delivered, build_dir


def load_expected():
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    expected = load_expected()
    code, records, delivered, build_dir = execute(
        args.workload, args.seed, args.seconds, args.trace)
    rec = metrics.by_kind(records)
    if code != 0 or rec["fatal"]:
        why = rec["fatal"][-1]["error"] if rec["fatal"] else f"exit code {code}"
        fail(f"{args.workload} run failed: {why}")

    if args.workload == "batch":
        res = checks.check_keys(records, expected["keys"])
    elif args.workload == "eventlog":
        res = checks.check_eventlog(records, [d[:4] for d in delivered])
    else:
        res = checks.check_ingest(records, expected["ingest"])
    attempted, failed, problems = res
    for p in problems[:50]:
        print(f"perfbench: FAILED {p}", file=sys.stderr)

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        values = metrics.per_layer(args.workload, rec, delivered)
        units = metrics.per_layer_units()
        print(f"perfbench: spans in {write_spans(build_dir, run_id, rec['span'])}",
              file=sys.stderr)
    else:
        values = metrics.end_to_end(args.workload, rec, delivered)
        units = metrics.END_TO_END
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
    # kept for summary.py, which compares a traced run with an untraced one
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    with open(os.path.join(build_dir, "results", f"{run_id}.json"), "w") as f:
        json.dump(dict(result, end_to_end=metrics.end_to_end(args.workload, rec, delivered)), f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
