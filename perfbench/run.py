"""Benchmark entry point: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, as
BENCHMARK.json lists them. Inputs are generated from --seed inside the checkout
(.perfbench_work/), which is removed at exit. The command exits nonzero when
an output does not match its reference or the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC_PATH = os.path.join(HERE, "spec.json")


def _prepare_env(work: str) -> None:
    """Keep every file the run writes (Python's and the JVM's temp files,
    Spark's local dirs) inside the checkout, and let Spark's Python workers
    import the engine."""
    for sub in ("tmp", "local", "jtmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # PerfDisableSharedMem: no hsperfdata file, which the JVM puts in /tmp
    # whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')} -XX:+PerfDisableSharedMem "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")).strip()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "logflow_spark", "__init__.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    with open(SPEC_PATH) as f:
        spec = json.load(f)
    # workloads, metric names, units and directions come from BENCHMARK.json
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec["end_to_end"], spec["per_layer"] = bench["end_to_end"], bench["per_layer"]
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    try:
        result = harness.run(spec, args.workload, args.seed, args.seconds,
                             bool(args.trace), work, _session_conf(work, bool(args.trace)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for e in result["detail"]["errors"]:
        print(e, file=sys.stderr)
    print("perfbench.detail " + json.dumps(result.pop("detail"), default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
