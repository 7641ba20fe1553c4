#!/usr/bin/env python3
"""Benchmark entry point: builds the engine, makes one workload's seeded
inputs, runs the benchmark JVM on them and prints one JSON result line.

    python3 perfbench/run.py --workload qa_answer --seed 1 --seconds 5 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics (see README.md). The build, the per-run
scratch directories and the traces live under ``$CARGO_TARGET_DIR`` if set,
else ``perfbench/.build``. Exit code 0 only when every operation succeeded
and every output check passed.
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
sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("qa_answer", "er_crud_days")

# Input sizes: the sf0.1 fixture's 5000 documents, and a 3000-term export.
SIZES = {
    "qa_answer": {"n_docs": 5000},
    "er_crud_days": {"n_terms": 3000},
}

END_TO_END = {"setup_s": "s", "op_mean_ms": "ms", "op_cpu_ms": "ms",
              "store_mb": "MB"}
LAYERS = ("ingest", "graph", "store", "resolve", "similarity", "query",
          "sinks", "bench", "other")
LAYER_STATS = {"jobs": "count", "stages": "count", "tasks": "count",
               "task_s": "s", "job_wall_s": "s", "shuffle_read_mb": "MB",
               "shuffle_write_mb": "MB", "spill_mb": "MB",
               "files_written": "count", "write_mb": "MB",
               "peak_task_mem_mb": "MB"}
SPANS = ("replay", "mor_read", "publish")


def per_layer_units():
    units = {f"{layer}.{stat}": unit for layer in LAYERS
             for stat, unit in LAYER_STATS.items()}
    units.update({"total.task_s": "s", "driver_s": "s",
                  "jobs_per_op": "count", "store.files_per_bucket": "count",
                  "span.op_self_s": "s"})
    units.update({f"span.{name}_s": "s" for name in SPANS})
    units.update({f"traced.{name}": unit
                  for name, unit in END_TO_END.items()})
    return units


JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"),
            os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for dp, dns, fns in os.walk(d):
            dns[:] = sorted(n for n in dns if n not in ("target", "project"))
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def run_group(cmd, timeout, **kw):
    """Run ``cmd`` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(root, build_dir):
    """Compiles the engine and the benchmark driver unless the sources are
    unchanged since the last build; returns (classpath file, built now)."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return cp_file, False
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SPARK_JARS_DIR=spark_jars(),
               PERFBENCH_TARGET=os.path.join(build_dir, "target"),
               PERFBENCH_CP=cp_file)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Dsbt.server.forcestart=false", "-Dsbt.log.noformat=true",
            f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx3g"])
    code = run_group([sbt, "--batch", "writeClasspath"], timeout=840,
                     cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {code})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp_file, True


def main():
    # whoever stops this script stops the JVM too (run_group kills
    # the process group on any exception)
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to "
             "perfbench/; run from a full checkout")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                                or os.path.join(HERE, ".build"))
    cp_file, built = build(root, build_dir)
    with open(cp_file) as fh:
        classpath = fh.read().strip()

    run_dir = os.path.join(build_dir, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    work = os.path.join(run_dir, "work")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(run_dir, "result.json")
    try:
        t0 = time.time()
        gen.generate(args.workload, inputs, args.seed, SIZES[args.workload])
        gen_s = time.time() - t0

        opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        # C1 only: C2 compiling Spark would keep two of four cores busy
        # through the whole run, so the timings would measure the JIT
        cmd = (["java", "-Xmx3g", "-XX:TieredStopAtLevel=1",
                "-XX:ReservedCodeCacheSize=512m",
                f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.callstack.depth=60",
                f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"] + opens +
               ["-cp", classpath, "graft.perfbench.Main",
                "--workload", args.workload, "--inputs", inputs,
                "--work", work, "--seconds", str(args.seconds),
                "--trace", str(args.trace),
                "--out", out])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        # a run ends within 180 s, the first one of a checkout (which also
        # builds) within 900 s
        budget = (890 if built else 175) - (time.time() - started)
        code = run_group(cmd, timeout=budget, env=env, cwd=work,
                         stdout=sys.stderr, stderr=sys.stderr)
        if code != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with {code}", 1)
        with open(out) as fh:
            res = json.load(fh)
    finally:
        # keep the traced run's full result (spans included) for inspection
        if args.trace and os.path.exists(out):
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(out, os.path.join(
                traces, f"{args.workload}-seed{args.seed}.json"))
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = dict(res["end_to_end"])
    e2e["setup_s"] += gen_s
    if args.trace:
        values = dict(res["per_layer"])
        values.update({f"traced.{k}": v for k, v in e2e.items()})
        units = per_layer_units()
    else:
        values, units = e2e, END_TO_END
    missing = [k for k in units if values.get(k) is None]
    if missing:
        fail(f"metrics missing from the run: {missing}", 1)
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    line = {"correct": bool(res["correct"]), "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}
    print(json.dumps(line))
    if not line["correct"] or line["failed"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
