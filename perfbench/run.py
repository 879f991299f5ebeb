#!/usr/bin/env python3
"""Benchmark harness for the Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark's Scala code from source (cached under
`.bench_build/`), generates the workload's inputs from the seed, runs one
JVM that sets up, warms and times the workload, checks every output
against the engine's DuckDB oracles, and prints one JSON line:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# BENCHMARK.json lists dashboard_mix and event_stream; etl_batch and
# corpus_prep run by hand (README.md says why)
WORKLOADS = ("etl_batch", "dashboard_mix", "corpus_prep", "event_stream")

# event_stream offers 8 files of 250 events each per second (2000
# events/s) after 2 s of warm-up at the same rate.
STREAM_FILES_PER_S = 8.0
STREAM_WARM_S = 2.0

# the JVM must report within this allowance for set-up plus --seconds
JVM_SETUP_ALLOWANCE_S = 140
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the jars bundled
    with an installed pyspark of the same release."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(jars):
    """Compile the engine and perfbench/scala with scalac once per source hash."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    log(f"compiling {len(srcs)} sources")
    cp = os.path.join(jars, "*")
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("perfbench: compile failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def start_jvm(classes, jars, workload, inputs, work, seconds, trace, seed):
    """Start the benchmark JVM; it builds its Spark session while the inputs
    are generated and waits for `inputs/.ready` before set-up goes on."""
    java_tmp = os.path.join(work, "tmp")
    os.makedirs(java_tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={java_tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
              "--workload", workload, "--inputs", inputs, "--work", work,
              "--seconds", str(seconds), "--trace", str(trace), "--seed", str(seed),
              "--cores", str(cores()),
              "--rate", str(STREAM_FILES_PER_S), "--warm", str(STREAM_WARM_S)])
    log_file = open(os.path.join(work, "jvm.log"), "wb")
    # keep Spark's scratch space inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    return subprocess.Popen(cmd, stdout=log_file, stderr=subprocess.STDOUT, cwd=work, env=env), log_file


def await_result(proc, log_file, work, seconds):
    """The JVM's report, as soon as it is written (the JVM then shuts
    Spark down while the harness checks its outputs)."""
    path = os.path.join(work, "result.json")
    deadline = time.time() + JVM_SETUP_ALLOWANCE_S + seconds
    while not os.path.exists(path) and proc.poll() is None and time.time() < deadline:
        time.sleep(0.05)
    if not os.path.exists(path):
        stop_jvm(proc, log_file, 0)
        with open(os.path.join(work, "jvm.log"), "rb") as lf:
            text = lf.read().decode(errors="replace")
        first = [ln for ln in text.splitlines() if "Exception" in ln or "Error" in ln][:5]
        sys.stderr.write("\n".join(first) + "\n...\n" + text[-3000:])
        raise SystemExit(f"perfbench: JVM ended without a report (exit {proc.returncode})")
    with open(path) as f:
        return json.load(f)


def stop_jvm(proc, log_file, timeout_s):
    """Wait up to `timeout_s` for the JVM to exit, then kill it."""
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        pass
    if proc.poll() is None:
        proc.kill()
        proc.wait()
    log_file.close()


def items_per_op(workload, manifest):
    return {"etl_batch": manifest.get("csv_rows"), "dashboard_mix": 1,
            "corpus_prep": manifest.get("docs"),
            "event_stream": manifest.get("events_per_file")}[workload]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    proc = None
    try:
        t0 = time.time()
        inputs = os.path.join(work, "inputs")
        os.makedirs(inputs)
        proc, log_file = start_jvm(classes, jars, a.workload, inputs, work, a.seconds, a.trace, a.seed)
        n_files = int(STREAM_FILES_PER_S * (STREAM_WARM_S + a.seconds)) + 4
        manifest = gen.generate(a.workload, a.seed, inputs, n_files=n_files)
        with open(os.path.join(inputs, ".ready"), "w") as f:
            f.write(str(items_per_op(a.workload, manifest)))
        gen_s = time.time() - t0
        result = await_result(proc, log_file, work, a.seconds)
        setup_s = result["timed_start_ms"] / 1e3 - t0
        jvm_s = time.time() - t0
        bad, details = oracle.check(a.workload, inputs, work, result)
        details["oracle_s"] = round(time.time() - t0 - jvm_s, 3)
        details["jvm_s"] = round(jvm_s - gen_s, 3)
        stop_jvm(proc, log_file, 60)
        if proc.returncode != 0:
            raise SystemExit(f"perfbench: JVM exited with {proc.returncode} after its report")
        ops = result["ops"]
        e2e, counts = stats.end_to_end(ops, bad, result["timed_start_ms"], setup_s,
                                       result["calib"]["heap_mb_start"])
        log(json.dumps({"workload": a.workload, "seed": a.seed, "inputs": manifest,
                        "gen_s": round(gen_s, 3), "session_s": result["session_s"],
                        "marks": result["marks"],
                        "calib": result["calib"], "checks": details, **counts,
                        "kinds": stats.by_kind(ops),
                        "lat_ms": [round(o["lat_ms"]) for o in ops if o["lat_ms"] is not None],
                        "errors": sorted({o["error"] for o in ops if o["error"]})[:5]}))
        if a.trace:
            metrics = report.per_layer(a.workload, result, manifest, cores())
            units = report.units("per_layer")
        else:
            metrics, units = e2e, report.units("end_to_end")
        if set(metrics) != set(units):
            raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
        print(json.dumps({
            "correct": counts["failed"] == 0,
            "attempted": counts["attempted"],
            "failed": counts["failed"],
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
    finally:
        if proc is not None:
            stop_jvm(proc, log_file, 0)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
