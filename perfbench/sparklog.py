"""Readers for what Spark and the sink already publish: the streaming
checkpoint's source log, StreamingQueryProgress records and the event log.
"""

from __future__ import annotations

import json
import os
import statistics


# --------------------------------------------------------------------------
# checkpoint: which micro-batch read each input file
# --------------------------------------------------------------------------
def _log_entries(d: str):
    """(index, lines) of each numbered entry of a checkpoint metadata log."""
    if not os.path.isdir(d):
        return
    for name in os.listdir(d):
        # every compactInterval-th entry is written as "<n>.compact" and
        # repeats all earlier entries; in-flight tmp files are dotted
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if stem.isdigit():
            with open(os.path.join(d, name)) as f:
                yield int(stem), f.read().splitlines()


def file_batches(checkpoint_dir: str, source: int = 0) -> dict[str, int]:
    """basename(file) -> id of the micro-batch that read it.

    The file source's own log (sources/<n>/<k>) lists the files added at its
    log offset k (the entries' "batchId" field is that source offset, not the
    query's batch id: no-data batches do not advance it). The offset log
    (offsets/<batchId>: a version line, a metadata line, then one offset per
    source) gives the source offset each batch read up to; a file at offset
    k belongs to the first batch whose end offset reaches k."""
    ends: list[tuple[int, int]] = []
    for batch, lines in _log_entries(os.path.join(checkpoint_dir, "offsets")):
        if len(lines) > 2 + source and lines[2 + source].startswith("{"):
            ends.append((batch, int(json.loads(lines[2 + source])["logOffset"])))
    ends.sort()
    out: dict[str, int] = {}
    for _k, lines in _log_entries(os.path.join(checkpoint_dir, "sources", str(source))):
        for line in lines:
            if not line.startswith("{"):
                continue
            rec = json.loads(line)
            k = int(rec["batchId"])
            batch = next((b for b, end in ends if end >= k), None)
            if batch is not None:
                out[os.path.basename(rec["path"])] = batch
    return out


# --------------------------------------------------------------------------
# StreamingQueryProgress
# --------------------------------------------------------------------------
PHASES = {
    "planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "add_batch_ms": "addBatch",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
}


def fold_progress(progress: list[dict]) -> dict:
    """Per-batch phase times (median and total), trigger overhead
    (triggerExecution - addBatch) and state-operator figures."""
    out: dict = {"batches": len(progress)}
    cols: dict[str, list[float]] = {k: [] for k in PHASES}
    cols["overhead_ms"] = []
    state = {"rows_total": 0, "rows_updated": 0, "rows_dropped_by_watermark": 0,
             "memory_bytes": 0, "commit_ms": 0, "rocksdb_file_sync_ms": 0}
    for p in progress:
        d = p.get("durationMs", {})
        for k, phase in PHASES.items():
            cols[k].append(float(d.get(phase, 0)))
        cols["overhead_ms"].append(
            float(d.get("triggerExecution", 0)) - float(d.get("addBatch", 0))
        )
        rows_total = 0
        for op in p.get("stateOperators", []):
            rows_total += op.get("numRowsTotal", 0)
            state["rows_updated"] += op.get("numRowsUpdated", 0)
            state["rows_dropped_by_watermark"] += op.get("numRowsDroppedByWatermark", 0)
            state["memory_bytes"] = max(state["memory_bytes"], op.get("memoryUsedBytes", 0))
            state["commit_ms"] += op.get("commitTimeMs", 0)
            state["rocksdb_file_sync_ms"] += op.get("customMetrics", {}).get(
                "rocksdbCommitFileSyncLatencyMs", 0
            )
        state["rows_total"] = max(state["rows_total"], rows_total)
    for k, v in cols.items():
        out[k + ".med"] = statistics.median(v) if v else 0.0
        out[k + ".total"] = sum(v)
    out["state"] = state
    return out


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------
def read_events(log_dir: str):
    """Every event of every (uncompressed) event-log file under log_dir."""
    for root, _dirs, names in os.walk(log_dir):
        for name in sorted(names):
            if name.startswith("appstatus") or name.endswith(".inprogress.tmp"):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        yield json.loads(line)


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[int(m["accumulatorId"])] = (node.get("nodeName", ""), m["name"])
    for c in node.get("children", []):
        _plan_metrics(c, out)


def _as_number(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


STATEFUL_NODES = ("StateStoreSave", "FlatMapGroupsInPandasWithState",
                  "TransformWithStateInPandas", "StreamingSymmetricHashJoin")


# job property the harness sets around each call into the engine
OP_PROPERTY = "perfbench.op"


def fold_eventlog(events) -> dict[str, dict]:
    """Fold an event log into per-group totals.

    A group is the value of the job property OP_PROPERTY and "" for jobs
    without it. SQL metric values
    arrive as accumulator updates keyed by id; the ids are joined to
    (plan node, metric name) from SQLExecutionStart and
    SQLAdaptiveExecutionUpdate plans, so e.g. the Python-worker time of an
    ArrowEvalPython node is told apart from the same metric on a stateful
    node."""
    acc_node: dict[int, tuple[str, str]] = {}
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    for e in events:
        ev = e.get("Event", "")
        if ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(e.get("sparkPlanInfo", {}), acc_node)
        elif ev.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                acc_node[int(m["accumulatorId"])] = ("", m["name"])
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get(OP_PROPERTY, "")
            for sid in e.get("Stage IDs", []):
                stage_group[int(sid)] = g
        elif ev == "SparkListenerTaskEnd":
            tasks.append(e)

    groups: dict[str, dict] = {}

    def g_of(name: str) -> dict:
        return groups.setdefault(name, {
            "tasks": 0, "run_time_ms": 0.0, "shuffle_write_bytes": 0.0,
            "shuffle_read_bytes": 0.0, "spill_bytes": 0.0,
            "python_worker_ms": 0.0, "python_bytes_in": 0.0,
            "stateful_python_worker_ms": 0.0, "task_skew": 0.0,
        })

    stateful_stage_times: dict[int, list[float]] = {}
    for t in tasks:
        sid = int(t.get("Stage ID", -1))
        g = g_of(stage_group.get(sid, ""))
        m = t.get("Task Metrics") or {}
        info = t.get("Task Info") or {}
        g["tasks"] += 1
        g["run_time_ms"] += _as_number(m.get("Executor Run Time"))
        g["shuffle_write_bytes"] += _as_number(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
        rd = m.get("Shuffle Read Metrics") or {}
        g["shuffle_read_bytes"] += _as_number(rd.get("Remote Bytes Read")) + _as_number(
            rd.get("Local Bytes Read"))
        g["spill_bytes"] += _as_number(m.get("Memory Bytes Spilled")) + _as_number(
            m.get("Disk Bytes Spilled"))
        stateful = False
        for a in info.get("Accumulables", []):
            node, name = acc_node.get(int(a.get("ID", -1)), ("", a.get("Name", "")))
            val = _as_number(a.get("Update"))
            if node.startswith(STATEFUL_NODES):
                stateful = True
                if name == "time to run Python workers":
                    g["stateful_python_worker_ms"] += val
            elif node.startswith("ArrowEvalPython") or node.startswith("BatchEvalPython"):
                if name == "time to run Python workers":
                    g["python_worker_ms"] += val
                elif name == "data sent to Python workers":
                    g["python_bytes_in"] += val
        if stateful:
            dur = _as_number(info.get("Finish Time")) - _as_number(info.get("Launch Time"))
            stateful_stage_times.setdefault(sid, []).append(dur)
    for sid, times in stateful_stage_times.items():
        med = statistics.median(times)
        if med > 0:
            g = g_of(stage_group.get(sid, ""))
            g["task_skew"] = max(g["task_skew"], max(times) / med)
    return groups
