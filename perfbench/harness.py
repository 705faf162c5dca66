"""One benchmark run: generate, set up, measure, check, report.

End-to-end metrics come from an untraced timed region. With tracing on, the
run measures an untraced pass and then a traced pass of the same length,
then one traced op of each companion workload (the layers no benchmark
workload runs), and reports the per-layer metrics of the traced passes and
the difference between the two passes as the trace overhead.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import sparklog, workloads
from perfbench.proctree import MemorySampler, descendants, wait_gone
from perfbench.tracing import Tracer, self_time_by_name, summarize

TRACED = "traced."
# run inside the traced run of a workload: the stateful join and the batch
# operators, which neither benchmark workload reaches
COMPANIONS = {"pages_extract_drain": (workloads.EnrichJoinDrain,),
              "pages_live_skew": (workloads.DocsBatch,)}


def cpu_probe_ms() -> float:
    """The repository's multi-core CPU probe (bench.py), one reading. It is
    recorded beside the result and never used to retry or select runs."""
    import bench

    return 1000 * bench._calibrate_once(procs=os.cpu_count() or 1)


def _e2e(ops: workloads.Ops, setup_s: float) -> dict[str, float]:
    """The bounded metrics: CPU seconds of the process tree (this process,
    the JVM, its Python workers) per 1000 input rows, the median over the
    timed ops, which hypervisor steal on a shared host does not inflate, and
    set-up wall time."""
    return {
        "setup_s": setup_s,
        "cpu_s_per_krow": statistics.median(ops.cpu_s_per_krow) if ops.cpu_s_per_krow else 0.0,
    }


def _wall(ops: workloads.Ops) -> dict[str, float]:
    """Wall-clock figures; on a shared host their run-to-run spread is set
    by CPU steal, so they are reported per layer, without a bound."""
    return {
        "wall.latency_p50_s": statistics.median(ops.latencies) if ops.latencies else 0.0,
        "wall.rows_per_s": ops.rows / ops.busy_s if ops.busy_s > 0 else 0.0,
        "wall.latency_n": len(ops.latencies),
    }


def run(spec: dict, name: str, seed: int, seconds: float, trace: bool, work: str,
        conf: dict) -> dict:
    """Returns {"correct", "attempted", "failed", "metrics", "detail"}."""
    from logflow_spark.session import get_spark

    detail: dict = {"workload": name, "seed": seed, "seconds": seconds,
                    "cpu_probe_ms": cpu_probe_ms()}
    w = workloads.WORKLOADS[name](seed, work, Tracer(False), spec)
    t0 = time.perf_counter()
    w.generate(seconds)
    detail["generate_s"] = time.perf_counter() - t0

    # set-up: JVM launch, session and the workload's warm-up ops, the first
    # of them cold
    t0 = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    t1 = time.perf_counter()
    w.warmup(spark)
    get_s, warm_s = t1 - t0, time.perf_counter() - t1
    detail["setup_s"] = get_s + warm_s

    passes = []
    for traced in ([False, True] if trace else [False]):
        w.tracer = Tracer(traced)
        w.tag_prefix = TRACED if traced else ""
        # memory is a per-layer figure: sampled in the traced pass only, so
        # its reads of /proc cost the CPU metric of the untraced pass nothing
        with MemorySampler(enabled=traced) as mem:
            ops = w.measure(spark, seconds)
        w.check(spark, ops)
        passes.append((ops, {**_e2e(ops, get_s + warm_s), **_wall(ops)}, mem.peak))
    ops, e2e, peak_mem = passes[-1]
    detail["latency_samples_s"] = [round(x, 3) for x in ops.latencies]
    detail["cpu_s_per_krow_samples"] = [round(x, 4) for x in ops.cpu_s_per_krow]
    # median, the highest percentile with ten samples beyond it, and the count
    detail["latency_summary_s"] = summarize(ops.latencies)
    detail["e2e"] = e2e
    if trace:
        detail["peak_pss_mb"] = peak_mem / 2**20

    if trace:
        # wall figures from the untraced pass, layer figures from the traced one
        layer = {**passes[0][1], **w.layers(spark, ops)}
        layer.update({"session.get_spark_s": get_s, "session.warmup_s": warm_s,
                      "process.peak_pss_mb": peak_mem / 2**20})
        for k in ("cpu_s_per_krow", "wall.latency_p50_s", "wall.rows_per_s"):
            layer[f"trace.overhead.{k}"] = e2e[k] - passes[0][1][k]
        companions = _run_companions(spark, w, spec)
        for c, c_ops in companions:
            layer.update(c.layers(spark, c_ops))
            passes.append((c_ops, {}, 0))
            detail[f"{c.name}.latency_summary_s"] = summarize(c_ops.latencies)
        spark.stop()
        layer.update(_fold_eventlog(w, os.path.join(work, "eventlog"), ops, companions))
        if isinstance(w, workloads.LiveSkew):
            layer["share.fixed_of_batch"] = _fixed_share(layer)
        detail["span_self_s"] = self_time_by_name(w.tracer.spans)
        out_dir = os.path.join(os.path.dirname(os.path.dirname(work)), ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        detail["spans"] = os.path.join(out_dir, f"{name}-{seed}-{w.tracer.run_id}.jsonl")
        w.tracer.write_jsonl(detail["spans"])
        if isinstance(w, workloads.ExtractDrain):
            t0 = time.perf_counter()
            layer["scale.extract_eff"] = _scale_eff(w, conf, passes[0][1]["wall.rows_per_s"])
            detail["scale_s"] = time.perf_counter() - t0
        metrics = {m["name"]: {"value": float(layer.pop(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        spark.stop()
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    _stop_jvm()
    detail["errors"] = [e for p in passes for e in p[0].errors]
    attempted = sum(p[0].attempted for p in passes)
    failed = sum(p[0].failed for p in passes)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "detail": detail}


def _stop_jvm() -> None:
    """End the JVM and the Python workers it forked, and wait for them: the
    gateway exits when its stdin closes."""
    from pyspark import SparkContext

    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
    wait_gone(started, timeout=60)


def _fixed_share(layer: dict) -> float:
    """Share of the live query's batch time spent in per-batch fixed costs:
    trigger overhead (triggerExecution - addBatch), state commit and the
    sink's write_batch. State commit is summed over the stateful tasks, which
    run nproc at a time, so it is divided by nproc to count as wall time."""
    batch_ms = layer["trigger.add_batch_ms.total"] + layer["trigger.overhead_ms.total"]
    fixed = (layer["trigger.overhead_ms.total"]
             + layer["state.commit_ms"] / (os.cpu_count() or 1)
             + layer.get("sink.write_batch_ms", 0.0) * layer["sink.commits"])
    return fixed / batch_ms if batch_ms else 0.0


def _scale_eff(w: workloads.ExtractDrain, conf: dict, rate_n: float) -> float:
    """docs/s at local[nproc] / (nproc x docs/s of one warm drain at local[1])."""
    from logflow_spark.session import get_spark

    spark = get_spark(master="local[1]", extra_conf=conf)
    w.tracer = Tracer(False)
    w.drain(spark, w.in_dir)  # warm-up: the JVM is warm, the Python worker is new
    wall, _ = w.drain(spark, w.in_dir)
    spark.stop()
    return rate_n / ((os.cpu_count() or 1) * (w.OP_ROWS / wall))


def _run_companions(spark, w: workloads.Workload, spec: dict) -> list:
    """The warm-up and one traced op of each companion of `w`, checked
    against its reference; returns [(companion, ops)]."""
    out = []
    for cls in COMPANIONS.get(w.name, ()):
        c = cls(w.seed, os.path.join(w.work, cls.name), w.tracer, spec)
        c.tag_prefix = TRACED
        c.generate(0.0)
        c.warmup(spark)
        with c.tracer.span(c.name):
            ops = c.measure(spark, 0.0)
        c.check(spark, ops)
        out.append((c, ops))
    return out


def _fold_eventlog(w: workloads.Workload, log_dir: str, ops: workloads.Ops,
                   companions: list) -> dict:
    """Per-op shuffle, spill, Python-worker and task-skew figures from the
    traced passes' jobs."""
    groups = sparklog.fold_eventlog(sparklog.read_events(log_dir))

    def get(tag: str, k: str) -> float:
        return groups.get(TRACED + tag, {}).get(k, 0.0)

    per = max(1, len(ops.latencies)) if isinstance(w, workloads.DrainWorkload) else 1
    out = {
        "shuffle.write_bytes": get(w.name, "shuffle_write_bytes") / per,
        "shuffle.read_bytes": get(w.name, "shuffle_read_bytes") / per,
        "spill_bytes": get(w.name, "spill_bytes") / per,
        "text.python_worker_s": get(w.name, "python_worker_ms") / 1000 / per,
        "text.python_bytes_in": get(w.name, "python_bytes_in") / per,
        "shuffle.task_skew": get(w.name, "task_skew"),
    }
    for c, c_ops in companions:
        if isinstance(c, workloads.EnrichJoinDrain):
            n = max(1, len(c_ops.latencies))
            out["join.python_worker_s"] = get(c.name, "stateful_python_worker_ms") / 1000 / n
        elif isinstance(c, workloads.DocsBatch):
            for q in c.per_query:
                out[f"batch.{q}.shuffle_bytes"] = get(q, "shuffle_write_bytes")
    return out
