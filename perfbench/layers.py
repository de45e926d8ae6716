"""Per-layer metrics of a traced run, from the Spark event log and the
benchmark's own spans.

Jobs are attributed to keys by ``spark.jobGroup.id``: the benchmark sets the
group to the key around each key. Streaming micro-batch jobs carry their
stream's run id as the group instead (and ``sql.streaming.queryId``); they
land on the key whose span contains the stream's ``QueryStartedEvent``.
Streaming progress (``QueryProgressEvent``) is attributed the same way.
Times in the event log are epoch milliseconds; spans are epoch seconds.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from datetime import datetime

STARTED = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"

# task accumulable name -> (metric, factor to seconds or 1 for bytes)
PYTHON_ACCUMULABLES = {
    "data sent to Python workers": ("python.bytes_sent", 1),
    "data returned from Python workers": ("python.bytes_returned", 1),
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
}

# progress durationMs field -> metric (ms, summed over batches)
DURATIONS = {
    "triggerExecution": "streaming.runner.trigger_ms",
    "addBatch": "streaming.runner.add_batch_ms",
    "queryPlanning": "streaming.runner.query_planning_ms",
    "walCommit": "streaming.runner.wal_commit_ms",
    "commitOffsets": "streaming.runner.commit_offsets_ms",
    "latestOffset": "streaming.runner.latest_offset_ms",
}

# stateOperators field -> metric (summed over batches and operators)
STATE_FIELDS = {
    "commitTimeMs": "state.commit_ms",
    "allUpdatesTimeMs": "state.update_ms",
    "allRemovalsTimeMs": "state.removal_ms",
    "numRowsUpdated": "state.rows_updated",
    "numRowsRemoved": "state.rows_removed",
    "numRowsDroppedByWatermark": "state.rows_dropped_by_watermark",
}
ROCKSDB_FIELDS = {
    "rocksdbChangeLogWriterCommitLatencyMs": "state.rocksdb.changelog_commit_ms",
    "rocksdbCommitFileSyncLatencyMs": "state.rocksdb.file_sync_ms",
    "rocksdbLoadLatencyMs": "state.rocksdb.load_ms",
    "rocksdbGetCount": "state.rocksdb.get_count",
    "rocksdbPutCount": "state.rocksdb.put_count",
}


# every per-key metric key_layers() produces, so that a key with no jobs or
# no streams still reports each of them (as 0)
COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.sql_executions",
    "spark.task_failures",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.deser_s",
    "exec.task_wait_s",
    "exec.busy_frac",
    "driver.gap_s",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "shuffle.write_s",
    "spill.memory_bytes",
    "spill.disk_bytes",
    "scan.bytes",
    "scan.rows",
    *(metric for metric, _ in PYTHON_ACCUMULABLES.values()),
    "streaming.runner.streams",
    "streaming.runner.batches",
    "streaming.runner.empty_batches",
    "streaming.input_rows",
    *DURATIONS.values(),
    *STATE_FIELDS.values(),
    *ROCKSDB_FIELDS.values(),
    "state.rows_total",
    "state.memory_bytes",
)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def read_eventlog(log_dir: str) -> list[dict]:
    """Events of the one application that logged to ``log_dir``: Spark 4
    writes a rolling log, ``eventlog_v2_<app>/events_<n>_<app>``."""
    (app,) = [e for e in os.listdir(log_dir) if e.startswith("eventlog_v2_")]
    app_dir = os.path.join(log_dir, app)
    files = [e for e in os.listdir(app_dir) if e.startswith("events_")]
    events = []
    for name in sorted(files, key=lambda e: int(e.split("_")[1])):
        with open(os.path.join(app_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _owner(spans: list[tuple[str, float, float]], t: float) -> str | None:
    for key, start, end in spans:
        if start <= t <= end:
            return key
    return None


def _covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            total += b - a
            cursor = b
    return total


def key_layers(events: list[dict], spans: list[tuple[str, float, float]], cores: int) -> dict:
    """Per-key layer metrics. ``spans`` holds (key, start, end) in epoch
    seconds for every timed key; events outside every span (setup, the
    output check) are not attributed."""
    keys = {key for key, _, _ in spans}
    out = {key: {**dict.fromkeys(COUNTERS, 0.0), "streaming.runner.batch_ms": []} for key in keys}
    run_key: dict[str, str] = {}
    query_key: dict[str, str] = {}
    for e in events:
        if e["Event"] == STARTED:
            key = _owner(spans, _epoch(e["timestamp"]))
            if key is not None:
                run_key[e["runId"]] = key
                query_key[e["id"]] = key
                out[key]["streaming.runner.streams"] += 1

    stage_key: dict[int, str] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    job_key: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            key = group if group in keys else run_key.get(group)
            if key is None:
                key = query_key.get(props.get("sql.streaming.queryId"))
            if key is None:
                continue
            job_key[e["Job ID"]] = key
            job_start[e["Job ID"]] = e["Submission Time"] / 1e3
            out[key]["spark.jobs"] += 1
            for stage in e.get("Stage Infos", ()):
                stage_key[stage["Stage ID"]] = key
        elif kind == "SparkListenerJobEnd":
            key = job_key.get(e["Job ID"])
            if key is not None:
                intervals[key].append((job_start[e["Job ID"]], e["Completion Time"] / 1e3))
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            if "Submission Time" in info:
                stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info["Submission Time"]
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(e["Stage Info"]["Stage ID"])
            if key is not None:
                out[key]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(e["Stage ID"])
            if key is not None:
                _add_task(out[key], e, stage_submit.get((e["Stage ID"], e["Stage Attempt ID"])))
        elif kind == SQL_START:
            key = _owner(spans, e["time"] / 1e3)
            if key is not None:
                out[key]["spark.sql_executions"] += 1
        elif kind == PROGRESS:
            key = query_key.get(e["progress"]["id"])
            if key is not None:
                _add_progress(out[key], e["progress"])

    span_s: dict[str, float] = defaultdict(float)
    for key, start, end in spans:
        span_s[key] += end - start
        out[key]["driver.gap_s"] += (end - start) - _covered(intervals[key], start, end)
    for key, m in out.items():
        m["exec.busy_frac"] = m["exec.run_s"] / (span_s[key] * cores) if span_s[key] else 0.0
    return out


def _add_task(m: dict, e: dict, stage_submitted_ms: float | None) -> None:
    info, tm = e["Task Info"], e.get("Task Metrics") or {}
    m["spark.tasks"] += 1
    if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
        m["spark.task_failures"] += 1
    if stage_submitted_ms is not None:
        m["exec.task_wait_s"] += max(0.0, info["Launch Time"] - stage_submitted_ms) / 1e3
    m["exec.run_s"] += tm.get("Executor Run Time", 0) / 1e3
    m["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    m["exec.deser_s"] += tm.get("Executor Deserialize Time", 0) / 1e3
    m["spill.memory_bytes"] += tm.get("Memory Bytes Spilled", 0)
    m["spill.disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
    read = tm.get("Shuffle Read Metrics") or {}
    m["shuffle.read_bytes"] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
    m["shuffle.fetch_wait_s"] += read.get("Fetch Wait Time", 0) / 1e3
    write = tm.get("Shuffle Write Metrics") or {}
    m["shuffle.write_bytes"] += write.get("Shuffle Bytes Written", 0)
    m["shuffle.write_s"] += write.get("Shuffle Write Time", 0) / 1e9
    inp = tm.get("Input Metrics") or {}
    m["scan.bytes"] += inp.get("Bytes Read", 0)
    m["scan.rows"] += inp.get("Records Read", 0)
    for acc in info.get("Accumulables", ()):
        target = PYTHON_ACCUMULABLES.get(acc.get("Name"))
        if target is not None:
            m[target[0]] += float(acc.get("Update", 0)) * target[1]


def _add_progress(m: dict, p: dict) -> None:
    durations = p.get("durationMs") or {}
    rows = sum(s.get("numInputRows", 0) for s in p.get("sources", ()))
    m["streaming.runner.batches"] += 1
    m["streaming.runner.empty_batches"] += rows == 0
    m["streaming.input_rows"] += rows
    m["streaming.runner.batch_ms"].append(durations.get("triggerExecution", 0))
    for field, metric in DURATIONS.items():
        m[metric] += durations.get(field, 0)
    total = memory = 0
    for op in p.get("stateOperators", ()):
        for field, metric in STATE_FIELDS.items():
            m[metric] += op.get(field, 0)
        custom = op.get("customMetrics") or {}
        for field, metric in ROCKSDB_FIELDS.items():
            m[metric] += custom.get(field, 0)
        total += op.get("numRowsTotal", 0)
        memory += op.get("memoryUsedBytes", 0)
    # state size is a level, not a flow: keep the largest seen
    m["state.rows_total"] = max(m["state.rows_total"], total)
    m["state.memory_bytes"] = max(m["state.memory_bytes"], memory)


def summarize(per_key: dict[str, dict], cores: int) -> dict:
    """Workload totals: sums over keys, except the ratios and the batch
    latency median, which are recomputed from the totals."""
    total: dict = defaultdict(float, dict.fromkeys(COUNTERS, 0.0))
    batch_ms: list[float] = []
    for m in per_key.values():
        for name, value in m.items():
            if name == "streaming.runner.batch_ms":
                batch_ms.extend(value)
            elif name != "exec.busy_frac":
                total[name] += value
    total["streaming.runner.batch_ms.p50"] = median(batch_ms)
    key_s = total.get("operators.key_s", 0.0)
    total["exec.busy_frac"] = total["exec.run_s"] / (key_s * cores) if key_s else 0.0
    trigger_s = total["streaming.runner.trigger_ms"] / 1e3
    total["streaming.events_per_s"] = total["streaming.input_rows"] / trigger_s if trigger_s else 0.0
    return dict(total)
