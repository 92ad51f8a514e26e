#!/usr/bin/env python3
"""graft's benchmark: one command that builds the engine from source,
generates seeded inputs, times one workload, checks every output and
prints one JSON result line last.

    python3 perfbench/run.py --workload octree --seed 1 --seconds 15 --trace 0

Run it from the repository root. Workloads and metrics are declared in
BENCHMARK.json; perfbench/README.md says what each one measures. The
exit code is 0 only when no operation failed and every check passed.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

BUILD_DIR = ".bench_build"
# the scratch root when /dev/shm cannot be used
SCRATCH_DIR = ".bench_scratch"
JVM_TIMEOUT_S = 150
# java options a SparkSession needs on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# Table inputs of the `queries` workload: table group -> rows (tpch rows
# are orders; lineitem has 4x as many). Each op costs about 100 ms per
# Spark job here, so the op list sets the pass time more than these do.
QUERY_TABLES = {"tpch": 15000, "events": 10000, "embeddings": 1000}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the one next
    to `spark-submit` on the PATH."""
    submit = shutil.which("spark-submit")
    homes = [os.environ.get("SPARK_HOME"),
             submit and os.path.dirname(os.path.dirname(os.path.realpath(submit)))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("no Spark jars found (set SPARK_HOME)")


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/scala"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, jars):
    """Compile the engine and the benchmark's JVM side into one class dir,
    unless the sources are unchanged since the last build."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        raise SystemExit("src/main/scala not found: run from the repository root")
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"building {len(srcs)} sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    scalac = subprocess.Popen(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                               "-classpath", cp, "-nowarn", "-d", tmp, "@" + argfile],
                              stdout=sys.stderr, stderr=sys.stderr)
    try:
        scalac.wait()
    finally:
        if scalac.poll() is None:
            scalac.kill()
            scalac.wait()
    if scalac.returncode != 0:
        raise SystemExit("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return classes


# GraftSession's spark.local.dir: Spark keeps shuffle and spill there, in
# per-session subdirectories it removes when the session stops
SESSION_SHM = "/dev/shm/graft-spark"


def shm_entries():
    """The entries of /dev/shm, and those of the session's Spark local root."""
    out = set()
    for d, prefix in (("/dev/shm", ""), (SESSION_SHM, "graft-spark/")):
        try:
            out |= {prefix + e for e in os.listdir(d)}
        except OSError:
            pass
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-failure", action="store_true",
                    help="add an op that always throws (failure-accounting self-test)")
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload}")

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    jars = spark_jars()
    classes = build(root, jars)

    # One scratch root holds the inputs, trees, outputs and JVM temp files.
    # It is on tmpfs, beside the session's Spark local root, as the
    # engine keeps its own scratch: on a disk, file-system commit stalls
    # in the tree writes made whole runs up to 1.5x slower than others.
    shm_before = shm_entries()
    env = dict(os.environ)
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        scratch = f"/dev/shm/perfbench-{args.workload}-{os.getpid()}"
    else:
        scratch = os.path.join(root, SCRATCH_DIR, f"{args.workload}-{os.getpid()}")
        # the session's Spark local root is unusable too
        env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
        log(f"/dev/shm is not writable: scratch and Spark local dirs under {scratch}")
    jvm = None
    os.sync()  # start from a committed file system (e.g. after a build)
    try:
        os.makedirs(scratch)
        cores = len(os.sched_getaffinity(0))
        gen_s, rows, in_bytes = [], 0, 0
        tables = os.path.join(scratch, "tables")
        if args.workload == "queries":
            import tables as tbl
            for _ in range(3):  # set-up repeats, so it reports a median
                shutil.rmtree(tables, ignore_errors=True)
                t0 = time.time()
                rows, in_bytes = tbl.generate(tables, args.seed, QUERY_TABLES)
                gen_s.append(time.time() - t0)
        out = os.path.join(scratch, "result.json")
        cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += [f"-Djava.io.tmpdir={scratch}/tmp",
                f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
                "-cp", f"{classes}:{os.path.join(jars, '*')}",
                "graft.perfbench.PerfBench",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--root", scratch, "--tables", tables, "--out", out, "--cores", str(cores)]
        if args.plant_failure:
            cmd.append("--plant-failure")
        os.makedirs(os.path.join(scratch, "tmp"))
        launch = time.time()
        jvm = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
        try:
            jvm.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
            raise SystemExit(f"JVM did not finish within {JVM_TIMEOUT_S} s")
        if jvm.returncode != 0 or not os.path.exists(out):
            raise SystemExit(f"JVM exited with {jvm.returncode}")
        with open(out) as f:
            r = json.load(f)

        checks = [(c["name"], c["ok"], c["detail"]) for c in r["checks"]]
        if args.workload == "queries":
            checks += [(f"oracle:{op}", ok, d) for op, ok, d in
                       tbl.oracle_compare(tables, os.path.join(scratch, args.workload, "oracle"), root)]
        else:
            rows = r["records"]
        # the JVM counted its own failed checks in r["failed"]
        failed = r["failed"] + sum(1 for n, ok, _ in checks[len(r["checks"]):] if not ok)
        spans = os.path.join(scratch, "spans.json")
        if args.trace and os.path.exists(spans):
            keep = os.path.join(root, BUILD_DIR, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(spans, os.path.join(keep, f"{args.workload}-seed{args.seed}.json"))
    finally:
        if jvm is not None and jvm.poll() is None:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        if "graft-spark" not in shm_before:
            try:  # the session made its local root; it is empty unless Spark leaked
                os.rmdir(SESSION_SHM)
            except OSError:
                pass
        try:
            os.rmdir(os.path.join(root, SCRATCH_DIR))
        except OSError:
            pass

    leaked = sorted(shm_entries() - shm_before)
    if not r["pass_s"]:
        for f in r["failures"]:
            log(f"OP FAILED {f}")
        raise SystemExit("no timed pass completed")
    checks.append(("no_new_dev_shm_entries", not leaked, ", ".join(leaked)))
    if leaked:
        failed += 1

    wall = statistics.median(r["pass_s"])
    setup = ((r["main_epoch_ms"] / 1000.0 - launch) + r["session_s"]
             + statistics.median(r["prepare_s"]) + (statistics.median(gen_s) if gen_s else 0.0)
             + r["warmup_s"])
    if args.workload == "queries":
        bytes_per_s = in_bytes / wall
    else:
        bytes_per_s = statistics.median(b / s for b, s in zip(r["pass_bytes"], r["pass_s"]))
    mem = r["memory"]
    e2e = {"setup_s": setup, "wall_s": wall, "records_per_s": rows / wall,
           "bytes_per_s": bytes_per_s, "peak_mem_mb": mem["heap_after_gc_max"] + mem["non_heap"]}
    attempted = r["attempted"]
    error_rate = failed / attempted

    for name, ok, detail in checks:
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")
    for f in r["failures"]:
        log(f"OP FAILED {f}")
    log(f"setup: launch {r['main_epoch_ms'] / 1000.0 - launch:.2f} s, session {r['session_s']:.2f} s, "
        f"prepare {['%.2f' % s for s in r['prepare_s']]}, generate {['%.2f' % s for s in gen_s]}, "
        f"warm-up {r['warmup_s']:.2f} s; checks {r['check_s']:.2f} s")
    log(f"{args.workload} seed {args.seed}: {len(r['pass_s'])} passes "
        f"{['%.3f' % s for s in r['pass_s']]} (JIT ms {r['pass_jit_ms']}, "
        f"generated classes {r['pass_codegen']}), {len(checks)} checks, "
        f"{attempted} ops attempted, {failed} failed")
    for k, unit in [("setup_s", "s"), ("wall_s", "s"), ("records_per_s", "1/s"),
                    ("bytes_per_s", "B/s"), ("peak_mem_mb", "MB")]:
        log(f"  {k:18s} {e2e[k]:.6g} {unit}")
    if args.workload == "octree":
        log(f"  {'voxels_per_s':18s} {e2e['records_per_s']:.6g} 1/s")
        log(f"  {'bytes_per_voxel':18s} {r['tree_bytes'] / rows:.6g} B")
    log(f"  {'error_rate':18s} {error_rate:.6g}")
    log("  memory MB: " + ", ".join(f"{k} {v:.1f}" for k, v in sorted(mem.items())))

    if args.trace:
        layers = r["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for k, v in sorted(layers.items()):
            log(f"  {k:40s} {v:.6g}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = failed == 0 and all(ok for _, ok, _ in checks)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
