"""Per-layer metrics of a traced run, from the JVM's listener sums.

Counts and times are per operation (an ETL run, a dashboard query, a
corpus-prep run) over the traced half of the run; on event_stream the
unit of Spark work is the micro-batch, so they are per batch there.
"""
import json
import os

import oracle
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def units(section):
    """Metric name -> unit of `section` ("end_to_end" or "per_layer") of
    BENCHMARK.json, the one list of what a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


# Spans and counters reported as a plain per-operation mean.
PER_OP = [
    "ingest.input_rows", "ingest.input_mb", "ingest.scan_task_s", "sink.output_mb",
    "sink.files", "pipeline.etl_run_s", "plan.analysis_ms", "plan.optimization_ms",
    "plan.planning_ms", "plans.rule_ms", "codegen.compile_ms", "codegen.classes",
    "sched.jobs", "sched.stages", "sched.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms", "spill.disk_mb",
    "ext.clean_s", "ext.contam_s", "ext.cc_s", "ext.minhash_s", "ext.candidate_pairs",
    "ext.pairs_kept", "plan.aqe_updates", "sched.job_ms", "sql.exec_ms",
]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _stream(progress):
    """Micro-batch phase means over batches that read data."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]

    def phase(name):
        return _mean([p.get("durationMs", {}).get(name, 0) for p in data])

    last = data[-1].get("stateOperators", []) if data else []
    return {
        "stream.batches": float(len(data)),
        "stream.rows_per_batch": _mean([p["numInputRows"] for p in data]),
        "stream.trigger_ms": phase("triggerExecution"),
        "stream.add_batch_ms": phase("addBatch"),
        "stream.get_batch_ms": phase("getBatch"),
        "stream.wal_commit_ms": phase("walCommit"),
        "stream.commit_offsets_ms": phase("commitOffsets"),
        "stream.state_rows": float(sum(s.get("numRowsTotal", 0) for s in last)),
        "stream.state_mb": sum(s.get("memoryUsedBytes", 0) for s in last) / 1048576.0,
        "stream.state_commit_ms": _mean([sum(s.get("commitTimeMs", 0) for s in p.get("stateOperators", []))
                                         for p in data]),
        "plan.planning_ms": phase("queryPlanning"),
    }


def per_layer(workload, result, manifest, n_cores):
    sums = result.get("layers", {})
    ops = result["ops"]
    traced = [o for o in ops if o["traced"] and o["ok"]]
    out = {k: 0.0 for k in units("per_layer")}
    if workload == "event_stream":
        progress = result.get("progress", [])
        st = _stream(progress)
        n = max(st["stream.batches"], 1.0)
        wall_s = st["stream.trigger_ms"] / 1e3
    else:
        st = {}
        n = max(len(traced), 1)
        wall_s = _mean([o["lat_ms"] for o in traced]) / 1e3
    for k in PER_OP:
        out[k] = sums.get(k, 0.0) / n
    out.update(st)
    out["sink.write_s"] = sums.get("sink.write_jobs_s", 0.0) / n
    out["sched.wait_ms"] = sums.get("sched.wait_ms", 0.0) / max(sums.get("sched.jobs", 0.0), 1.0)
    out["exec.overhead_s"] = wall_s - out["exec.run_s"] / n_cores
    calls = [o for o in traced if o["kind"] in oracle.DASHBOARD_UNION | oracle.TOPN]
    out["pipeline.dashboard_call_ms"] = sums.get("pipeline.dashboard_call_s", 0.0) * 1e3 / max(len(calls), 1)
    for span in ("pipeline.df_build", "pipeline.collect", "harness.encode"):
        out[span + "_ms"] = sums.get(span + "_s", 0.0) * 1e3 / n
    # what no layer above accounts for: operation wall time outside the
    # planning phases, codegen, Spark jobs and the harness's own encoding
    out["driver.other_ms"] = max(0.0, wall_s * 1e3 - sum(out[k] for k in (
        "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
        "codegen.compile_ms", "sched.job_ms", "harness.encode_ms")))
    out["ann.candidates_per_query"] = sums.get("ann.candidates", 0.0) / max(sums.get("ann.queries", 0.0), 1.0)
    if workload == "corpus_prep":
        out["ext.cc_rounds"] = sums.get("ext.cc_checks", 0.0) / n - 1.0
    if out["ext.candidate_pairs"] > 0:
        out["ext.pair_yield"] = out["ext.pairs_kept"] / out["ext.candidate_pairs"]
    out["sink.cache_build_s"] = result.get("cache_build_s", 0.0)
    out["sink.cache_mb"] = result.get("cache_mb", 0.0)
    out["gen.late_ms"] = result.get("gen_late_ms", 0.0)
    c = result["calib"]
    out["calib.cpu_ms"] = c["cpu_ms_start"]
    out["calib.spark_ms"] = c["spark_ms_start"]
    out["calib.cpu_drift"] = c["cpu_ms_end"] / c["cpu_ms_start"] - 1.0
    out["calib.spark_drift"] = c["spark_ms_end"] / c["spark_ms_start"] - 1.0
    out["trace.overhead_frac"] = stats.overhead_frac(ops)
    out["input.rows"] = float(manifest.get("csv_rows") or manifest.get("docs")
                              or manifest.get("events") or 0)
    if workload == "dashboard_mix":
        out["input.rows"] += manifest["lineitem_rows"] + manifest["embeddings_rows"]
    out["input.mb"] = (manifest.get("csv_bytes", 0) + manifest.get("table_bytes", 0)
                       + manifest.get("bytes", 0)) / 1048576.0
    out["input.dup_share"] = float(manifest.get("exact_share") or manifest.get("dup_share") or 0.0)
    out["input.near_share"] = float(manifest.get("near_share", 0.0))
    return out

