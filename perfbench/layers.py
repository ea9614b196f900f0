"""Per-layer metrics of one traced pass.

Every metric is a total over one pass of the workload's op list (each op
once, traced), except the ``setup.*``, ``host.*`` and ``trace.*`` figures.
A layer that does no work on a workload reports 0 there. README.md maps
each layer to the end-to-end metric it should move and to the workloads
where it does most and least work.
"""

from __future__ import annotations

import os
import statistics

#: Modules whose ops are timed as ``op.<module>.ms`` (last dotted part of
#: the entry function's ``__module__``).
OP_MODULES = [
    "api", "maintenance", "fsql_catalog", "sql", "windows", "relational", "asof",
    "dedup", "similarity", "text", "lm", "quality", "vocab", "multimodal",
]

#: (metric, unit, better)
METRICS: list[tuple[str, str, str]] = [
    ("api.read_ms", "ms", "lower"),
    ("fs.ls_calls", "count", "lower"),
    ("fs.ls_ms", "ms", "lower"),
    ("filescan.files_read", "count", "lower"),
    ("filescan.bytes_read", "bytes", "lower"),
    ("filescan.partitions_read", "count", "lower"),
    ("filescan.kept_ratio", "ratio", "lower"),
    ("entry.build_ms", "ms", "lower"),
    ("action.ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_ms", "ms", "lower"),
    ("spark.executor_cpu_ms", "ms", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.input_bytes", "bytes", "lower"),
    ("spark.leaked_rdds", "count", "lower"),
    ("spark.conf_drift", "count", "lower"),
    ("python.start_ms", "ms", "lower"),
    ("python.init_ms", "ms", "lower"),
    ("python.run_ms", "ms", "lower"),
    ("python.bytes_sent", "bytes", "lower"),
    ("python.bytes_returned", "bytes", "lower"),
    *[(f"op.{m}.ms", "ms", "lower") for m in OP_MODULES],
    ("driver.gap_ms", "ms", "lower"),
    ("write.ms", "ms", "lower"),
    ("write.files", "count", "lower"),
    ("write.bytes", "bytes", "lower"),
    ("write.bytes_per_input_byte", "ratio", "lower"),
    ("maintenance.compact_ms", "ms", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.trigger_ms", "ms", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.planning_ms", "ms", "lower"),
    ("streaming.wal_ms", "ms", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("self.build_ms", "ms", "lower"),
    ("self.action_ms", "ms", "lower"),
    ("self.fs_ls_ms", "ms", "lower"),
    ("self.spark_job_ms", "ms", "lower"),
    ("self.spark_stage_ms", "ms", "lower"),
    ("self.stream_batch_ms", "ms", "lower"),
    ("setup.session_s", "s", "lower"),
    ("setup.trees_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
    ("trace.read_ms", "ms", "lower"),
    ("host.probe_before_ms", "ms", "lower"),
    ("host.probe_after_ms", "ms", "lower"),
]

_STREAM_PHASES = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.planning_ms": "queryPlanning",
    "streaming.wal_ms": "walCommit",
}


def _count_files(root: str) -> int:
    return sum(
        1 for _, _, files in os.walk(root) for f in files if not f.startswith(("_", ".")) and not f.endswith(".crc")
    )


def per_layer_metrics(records, reader, stream, tracer, ctx, setup, probes):
    """(metrics for the result line, extra details incl. per-op counters)."""
    import time

    from tracing import union_ms, self_times

    t_read = time.perf_counter()
    reader.drain()
    jobs = reader.jobs()
    stages = {}
    for s in reader.stages():
        if s["status"] in ("COMPLETE", "FAILED"):
            stages.setdefault(s["stageId"], []).append(s)
    sql = reader.sql_metrics()
    read_ms = (time.perf_counter() - t_read) * 1e3

    traced = [r for r in records if r.traced]
    by_group = {r.group: r for r in traced}
    # streaming queries run their jobs under their run id as job group
    run_group = {run: grp for run, grp in stream.query_op.items() if grp in by_group}
    job_group = {}
    job_run = {}
    for j in jobs:
        grp = j.get("jobGroup")
        if grp in run_group:
            job_run[j["jobId"]] = grp
            grp = run_group[grp]
        if grp in by_group:
            job_group[j["jobId"]] = grp

    totals = dict.fromkeys((m for m, _, _ in METRICS), 0.0)
    batch_spans: dict[str, list[tuple[float, float, int]]] = {}
    last_state: dict[str, float] = {}
    for b in stream.batches:
        grp = run_group.get(b["run_id"])
        if grp is None:
            continue
        totals["streaming.batches"] += 1
        for metric, phase in _STREAM_PHASES.items():
            totals[metric] += b["duration_ms"].get(phase, 0)
        last_state[b["run_id"]] = b["state_rows"]
        trig = b["duration_ms"].get("triggerExecution", 0)
        start = _iso_ms(b["timestamp"])
        rec = by_group[grp]
        parent = rec.build_span if start < rec.t1 else rec.action_span
        sid = tracer.add("stream.batch", start, start + trig, parent, grp, batch_id=b["batch_id"])
        batch_spans.setdefault(b["run_id"], []).append((start, start + trig, sid))
    totals["streaming.state_rows"] = sum(last_state.values())

    # per-op counters that repeat exactly for one seed; shuffle *bytes* are
    # compressed block sizes, which can differ by a few bytes between runs
    # when rows reach a map task in another order, so rows are counted here
    per_op = {r.group: dict.fromkeys(
        ("jobs", "stages", "tasks", "shuffle_read_rows", "shuffle_write_rows", "files_read",
         "python_bytes_sent", "python_bytes_returned", "leaked_rdds", "conf_drift"), 0) for r in traced}
    job_iv: dict[str, list[tuple[float, float]]] = {}
    seen_stages: set[int] = set()
    for j in jobs:
        grp = job_group.get(j["jobId"])
        if grp is None:
            continue
        rec = by_group[grp]
        start, end = j.get("submissionTime"), j.get("completionTime")
        per_op[grp]["jobs"] += 1
        totals["spark.jobs"] += 1
        job_span = None
        if start and end:
            job_iv.setdefault(grp, []).append((start, end))
            parent = rec.build_span if start < rec.t1 else rec.action_span
            for a, b, sid in batch_spans.get(job_run.get(j["jobId"]), []):
                if a <= start <= b:
                    parent = sid
            job_span = tracer.add("spark.job", start, end, parent, grp, job_id=j["jobId"])
        for sid in j.get("stageIds", []):
            if sid in seen_stages or sid not in stages:
                continue
            seen_stages.add(sid)
            for s in stages[sid]:
                c = per_op[grp]
                c["stages"] += 1
                c["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                c["shuffle_read_rows"] += s["shuffleReadRecords"]
                c["shuffle_write_rows"] += s["shuffleWriteRecords"]
                totals["spark.shuffle_read_bytes"] += s["shuffleReadBytes"]
                totals["spark.shuffle_write_bytes"] += s["shuffleWriteBytes"]
                totals["spark.executor_run_ms"] += s["executorRunTime"]
                totals["spark.executor_cpu_ms"] += s["executorCpuTime"] / 1e6
                totals["spark.gc_ms"] += s["jvmGcTime"]
                totals["spark.input_bytes"] += s["inputBytes"]
                if s.get("submissionTime") and s.get("completionTime"):
                    tracer.add("spark.stage", s["submissionTime"], s["completionTime"], job_span, grp, stage_id=sid)

    sql_by_op: dict[str, dict[str, float]] = {}
    for job_ids, vals in sql:
        grp = next((job_group[j] for j in job_ids if j in job_group), None)
        if grp is None:
            continue
        acc = sql_by_op.setdefault(grp, {})
        for k, v in vals.items():
            acc[k] = acc.get(k, 0.0) + v

    tree_files = {}
    kept_num = kept_den = 0.0
    write_in = 0
    for r in traced:
        grp = r.group
        vals = sql_by_op.get(grp, {})
        c = per_op[grp]
        c["files_read"] = int(vals.get("filescan.files_read", 0))
        c["python_bytes_sent"] = round(vals.get("python.bytes_sent", 0))
        c["python_bytes_returned"] = round(vals.get("python.bytes_returned", 0))
        c["leaked_rdds"], c["conf_drift"] = r.leaked, r.drift
        for k in ("filescan.files_read", "filescan.bytes_read", "filescan.partitions_read",
                  "python.start_ms", "python.init_ms", "python.run_ms", "python.bytes_sent",
                  "python.bytes_returned"):
            totals[k] += vals.get(k, 0.0)
        if r.op.kind == "write":
            totals["write.files"] += vals.get("write.files", 0.0)
            totals["write.bytes"] += vals.get("write.bytes", 0.0)
            write_in += r.op.input_bytes
        if r.op.kind in ("read", "write", "compact"):
            root = ctx.scan_tree if r.op.kind == "read" else ctx.ingest_tree
            if root not in tree_files:
                tree_files[root] = _count_files(root)
            kept_num += vals.get("filescan.files_read", 0.0)
            kept_den += tree_files[root]
        totals["api.read_ms"] += r.layer.get("api.read_ms", 0.0)
        totals["write.ms"] += r.layer.get("write.ms", 0.0)
        totals["maintenance.compact_ms"] += r.layer.get("maintenance.compact_ms", 0.0)
        totals["fs.ls_calls"] += r.ls_calls
        totals["fs.ls_ms"] += r.ls_ms
        totals["entry.build_ms"] += r.t1 - r.t0
        totals["action.ms"] += r.t2 - r.t1
        totals["spark.stages"] += c["stages"]
        totals["spark.tasks"] += c["tasks"]
        totals["spark.leaked_rdds"] += r.leaked
        totals["spark.conf_drift"] += r.drift
        module = r.op.module.rsplit(".", 1)[-1]
        if f"op.{module}.ms" in totals:
            totals[f"op.{module}.ms"] += r.ms
        ivs = [(max(a, r.t0), min(b, r.t2)) for a, b in job_iv.get(grp, [])]
        totals["driver.gap_ms"] += r.ms - union_ms(ivs)
    totals["filescan.kept_ratio"] = kept_num / kept_den if kept_den else 0.0
    totals["write.bytes_per_input_byte"] = totals["write.bytes"] / write_in if write_in else 0.0

    self_ms = self_times(tracer.spans)
    # an op span is exactly covered by its build and action spans
    for span_name in ("build", "action", "fs.ls", "spark.job", "spark.stage", "stream.batch"):
        totals[f"self.{span_name.replace('.', '_')}_ms"] = self_ms.get(span_name, 0.0)

    untraced = {r.group.split(":", 2)[2]: r.ms for r in records if not r.traced and not r.error}
    diffs = [r.ms - untraced[r.group.split(":", 2)[2]] for r in traced if r.group.split(":", 2)[2] in untraced]
    totals["trace.overhead_ms"] = statistics.median(diffs) if diffs else 0.0
    totals["trace.read_ms"] = read_ms
    totals["setup.session_s"] = setup["session_s"]
    totals["setup.trees_s"] = setup["trees_s"]
    totals["setup.warmup_s"] = setup["warmup_s"]
    totals["host.probe_before_ms"], totals["host.probe_after_ms"] = probes

    units = {m: u for m, u, _ in METRICS}
    metrics = {m: {"value": float(totals[m]), "unit": units[m]} for m, _, _ in METRICS}
    counters = {by_group[g].op.key: c for g, c in per_op.items()}
    return metrics, {"op_counters": counters}


def _iso_ms(ts: str) -> float:
    import datetime

    dt = datetime.datetime.fromisoformat(ts.replace("Z", "+00:00"))
    return dt.timestamp() * 1e3
