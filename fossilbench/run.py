#!/usr/bin/env python3
"""Run one fossilbench workload and print its metrics.

    python3 fossilbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library sources
and the benchmark's own Scala sources with sbt (offline, against the Spark
jars in SPARK_HOME); later runs reuse the build while no source changed.

Every line but the last is a human-readable report: each workload's own
end-to-end metrics with unit and sample count, and the host facts. The last
line is one JSON object with the keys correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end metrics named in
BENCHMARK.json; with --trace 1 the workload runs once untraced and once
traced with the same seed, reports every per-layer metric from the traced
run (Spark listener totals from the untraced one), and adds the tracing
overhead (traced minus untraced op_p50_ms). Span, sample and result files
stay under .fossilbench/out/.
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
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".fossilbench")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
JAR = os.path.join(BENCH, "target", "fossilbench.jar")
# class-data-sharing archive of the classes a run loads: it cuts JVM and
# Spark start-up by seconds a run, outside every timed region
CDS = os.path.join(BENCH, "target", "fossilbench.jsa")
STAMP = os.path.join(BENCH, "target", "fossilbench.stamp")
WORKLOADS = ("serve_read", "follow_migrate", "curate_dedup")
# seconds: the first run builds; every later run, traced ones with their
# two JVMs included, must end inside 180 s
BUILD_TIMEOUT = 840
RUN_TIMEOUT = 164
HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"fossilbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every input of the build, to skip rebuilding unchanged code."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout, stdout):
    """Run `cmd` in its own process group; on timeout kill the whole group."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.exists(JAR):
        return
    # offline: resolve only from the local caches and the user's repository
    # list, as the repository's own build does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "-Dsbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    env["SPARK_HOME"] = spark_home()
    t0 = time.time()
    # products = compiled classes plus copied resources (log config, the
    # fossil DataSourceRegister service file)
    rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "Compile / products"], BENCH, env,
                   BUILD_TIMEOUT, sys.stderr)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    # CDS maps classes from jars only, not from a classes directory
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, fs in os.walk(CLASSES):
            for name in sorted(fs):
                path = os.path.join(d, name)
                z.write(path, os.path.relpath(path, CLASSES))
    if os.path.exists(CDS):
        os.remove(CDS)
    # a short run records the classes it loads; this workload loads the
    # session, SQL, parquet, streaming, state-store and wire classes
    try:
        run_jvm("follow_migrate", 0, 1, False, "cds", [f"-XX:ArchiveClassesAtExit={CDS}"])
    except (SystemExit, subprocess.TimeoutExpired):
        # without the archive runs start slower but measure the same
        if os.path.exists(CDS):
            os.remove(CDS)
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"fossilbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def spark_home():
    return os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
        os.path.realpath(shutil.which("spark-submit") or fail("SPARK_HOME is not set"))))


def run_jvm(workload, seed, seconds, traced, tag, jvm_opts, timeout=RUN_TIMEOUT):
    work = os.path.join(STATE, f"work-{tag}-{os.getpid()}")
    out = os.path.join(STATE, "out", tag)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(work)
    # Spark's block and shuffle files and every temp file stay in the run's
    # directory inside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}"]
           + jvm_opts
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([JAR, os.path.join(spark_home(), "jars", "*")]), "fossilbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if traced else "0",
              "--work", work, "--out", out])
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    # set here, not as spark.local.dir, which this variable would override
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        rc = run_child(cmd, ROOT, env, timeout, sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result):
        fail(f"{workload} run failed (exit {rc})")
    with open(result) as f:
        return json.load(f)


def report(r):
    print(f"# {r['workload']} seed={r['seed']} trace={int(r['trace'])} "
          f"correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
    print("# host " + json.dumps(r["host"], sort_keys=True))
    print(f"# session_s {r['session_s']:.3f} run_s {r['run_s']:.3f} setup_runs_s "
          + " ".join(f"{x:.3f}" for x in r["setup_runs_s"]))
    for m in r["report"]:
        n = f" (n={m['n']})" if m["n"] else ""
        print(f"{m['name']} {m['value']} {m['unit']}{n}")
    for p in r["problems"]:
        print(f"# problem: {p}")


def main():
    # a TERM unwinds through run_child, which then kills the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {ROOT}/src/main/scala; run from a fossilspark checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build()
    tag = f"{args.workload}-s{args.seed}"
    opts = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    timeout = RUN_TIMEOUT / (2 if args.trace else 1)
    untraced = run_jvm(args.workload, args.seed, args.seconds, False, tag, opts, timeout)
    report(untraced)
    result = untraced
    if args.trace:
        result = run_jvm(args.workload, args.seed, args.seconds, True, tag + "-trace", opts,
                         timeout)
        report(result)
        # Spark totals come from the untraced run: the traced one repeats
        # work in process to time its layers
        base = untraced["gated"]["op_p50_ms"]
        over = result["gated"]["op_p50_ms"] - base
        values = {**result["layers"], **untraced["spark"], "trace.overhead_ms": over,
                  "trace.overhead_share": over / base if base else 0.0}
        # a layer the workload does not exercise reads 0
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {k: {"value": result["gated"][k], "unit": u} for k, u in units.items()}
    print(json.dumps({
        "correct": bool(untraced["correct"] and result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
