#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: slot catch-up, near-duplicate
ingest and an analytics query mix, each driven closed-loop (one operation
in flight) at local[k], k = min(3, cores - 1).

    python3 perfbench/run.py --workload slot_catchup --seed 1 --seconds 6 --trace 0

Builds the program and the harness from source on first use (sbt, into
perfbench/target), makes the workload's inputs from --seed, runs the
harness JVM, checks every output, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 attaches listeners and reports the per-layer
metrics instead. Lines before it carry the host fingerprint and the figures
in each workload's own terms."""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from pb import checks, inputs, layers, metrics  # noqa: E402

WORKLOADS = ("slot_catchup", "dedup_ingest", "analytics_mix")
# local[k] with k = min(3, cores - 1): one core stays free for the JVM's
# own threads (JIT compilers, GC, listener bus); at k = cores the run-to-run
# spread on four cores was about twice as wide
CORES = max(1, min(3, (os.cpu_count() or 2) - 1))
SLOTS = 16
RUN_BUDGET_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    files = sorted(glob.glob(f"{ROOT}/src/main/**/*.scala", recursive=True))
    if not files:
        fail(f"no program sources under {ROOT}/src/main; run from a full checkout")
    files += sorted(glob.glob(f"{BENCH}/src/main/**/*.scala", recursive=True))
    files += [f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties"]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Compile the program and the harness once per source state."""
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
    log = os.path.join(BENCH, "target", "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, env=env, timeout=850).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(digest)


def refuse_overrides():
    """The program's graft.* properties and state-store knob are tuning and
    profiling overrides; the benchmark measures the defaults only."""
    for var in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS"):
        if "-Dgraft." in os.environ.get(var, ""):
            fail(f"{var} sets a graft.* property; unset it")
    if "SPARK_GRAFT_STATE_PROVIDER" in os.environ:
        fail("SPARK_GRAFT_STATE_PROVIDER is set; unset it")


def cpu_steal_jiffies():
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def io_stall_us():
    try:
        with open("/proc/pressure/io") as fh:
            for line in fh:
                if line.startswith("some "):
                    return int(line.split("total=")[1])
    except OSError:
        pass
    return None


def run_jvm(args, base, extra, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    spark_home = os.environ.get("SPARK_HOME") or fail("SPARK_HOME is not set")
    cp = f"{BENCH}/target/scala-2.13/classes:{spark_home}/jars/*"
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    out = os.path.join(base, "result.json")
    # a fixed 256 MB young generation: collections, and so heap samples,
    # come every 256 MB allocated instead of at G1's adaptive pace
    cmd = [java, "-Xms2g", "-Xmx2g", "-Xmn256m", *opens, "-Dspark.ui.enabled=false", "-cp", cp,
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(CORES),
           "--work", os.path.join(base, "work"), "--out", out, *extra]
    log = os.path.join(base, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=base, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("the harness JVM overran the run's time budget")
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"the harness JVM exited with {rc}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    refuse_overrides()
    ensure_built()
    deadline = time.time() + RUN_BUDGET_S

    base = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "inputs")
    os.makedirs(in_dir)
    load0, io0, steal0, t0 = (os.getloadavg()[0], io_stall_us(),
                              cpu_steal_jiffies(), time.time())
    try:
        wl = args.workload
        if wl == "slot_catchup":
            counts = inputs.slot_counts(args.seed, SLOTS)
            inputs.write_slot_source(os.path.join(in_dir, "events.parquet"), args.seed, counts)
            extra = ["--inputs", in_dir, "--start", str(inputs.SLOT_START),
                     "--slots", str(SLOTS)]
        elif wl == "dedup_ingest":
            rows, planted = inputs.dedup_stream(
                os.path.join(BENCH, "fixtures", "documents.parquet"), args.seed)
            inputs.write_docs(os.path.join(in_dir, "docs.parquet"), rows)
            extra = ["--inputs", in_dir, "--docs", str(len(rows))]
        else:
            extra = ["--inputs", os.path.join(BENCH, "fixtures")]
        result = run_jvm(args, base, extra, deadline)

        ops, out = result["ops"], result["outputs"]
        if wl == "slot_catchup":
            with open(os.path.join(in_dir, "manifest.json")) as fh:
                manifest = json.load(fh)
            failed, problems = checks.check_slot_catchup(
                ops, out["episodes"], inputs.SLOT_START, counts, manifest)
        elif wl == "dedup_ingest":
            failed, problems = checks.check_dedup_ingest(ops, out["survivors"], planted)
        else:
            with open(os.path.join(BENCH, "expected_triggers.json")) as fh:
                triggers = json.load(fh)
            with open(out["oracle_sql"]) as fh:
                oracle = json.load(fh)
            failed, problems = checks.check_analytics_mix(
                ops, os.path.join(BENCH, "fixtures"), out["results"], oracle, triggers)
        if result["bus_mismatches"]:
            problems.append(f"{result['bus_mismatches']} listener-bus snapshots "
                            "saw jobs that had not ended")

        e2e, detail = metrics.end_to_end(result)
        if args.trace:
            values = layers.per_layer(result, batches=inputs.DEDUP_BATCHES)
            units = layers.UNITS
        else:
            values, units = e2e, metrics.UNITS
        wall = time.time() - t0
        io1, steal1 = io_stall_us(), cpu_steal_jiffies()
        print(json.dumps({"host": {
            "cores": os.cpu_count(), "cores_used": CORES,
            "load1_start": load0, "load1_end": os.getloadavg()[0],
            "io_pressure_share": None if io0 is None or io1 is None
            else (io1 - io0) / 1e6 / wall,
            "cpu_steal_share": None if steal0 is None or steal1 is None
            else (steal1 - steal0) / os.sysconf("SC_CLK_TCK") / wall
            / (os.cpu_count() or 1)}}))
        print(json.dumps({"workload": wl, "detail": detail}))
        for p in problems[:20]:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        print(json.dumps({
            "correct": not failed and not problems,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }))
    finally:
        shutil.rmtree(base, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(base))
        except OSError:
            pass


if __name__ == "__main__":
    main()
