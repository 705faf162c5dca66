"""Tests of the benchmark harness's own pure logic (no Spark session).

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, reference, sparklog  # noqa: E402
from perfbench.tracing import Span, percentile, self_times, summarize, tail_percentile  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# -- percentile rule --------------------------------------------------------
def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(19) is None  # the median leaves only 9 above it
    assert tail_percentile(20) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(99) == 75.0  # p90 would leave 9
    assert tail_percentile(100) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_reports_median_tail_and_count():
    s = summarize([float(x) for x in range(100, 0, -1)])
    assert s == {"n": 100, "median": 50.5, "p": 90.0, "p_value": 90.0}
    assert summarize([2.0, 1.0, 3.0]) == {"n": 3, "median": 2.0}
    assert summarize([]) == {"n": 0}


# -- span self time ---------------------------------------------------------
def _span(i, parent, start, end):
    return Span("run", i, parent, f"s{i}", start, end, {})


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1: the union 1..6 counts once
        _span(3, 1, 2.0, 3.0),
        _span(4, 0, 9.0, 12.0),  # runs past its parent: clipped to 9..10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)


# -- file -> micro-batch mapping from recorded checkpoints --------------------
def test_file_batches_skips_no_data_batches():
    # recorded: chunks published every 2.5 s, each data batch followed by the
    # no-data batch its watermark advance triggers (batches 2, 4, 6)
    fb = sparklog.file_batches(os.path.join(DATA, "live_nodata"))
    assert fb["chunk-00000.parquet"] == 0
    assert fb["chunk-00001.parquet"] == 1
    assert fb["chunk-00002.parquet"] == 3
    assert fb["chunk-00003.parquet"] == 5
    assert fb["chunk-00004.parquet"] == 7


def test_file_batches_reads_compacted_source_log():
    # recorded: saturated run; batch 1 is the only no-data batch and the
    # source log compacts every tenth entry into "<n>.compact"
    fb = sparklog.file_batches(os.path.join(DATA, "live_compact"))
    assert fb["chunk-00000.parquet"] == 0
    for k in range(1, 39):
        assert fb[f"chunk-{k:05d}.parquet"] == k + 1, k


def test_file_batches_of_missing_checkpoint_is_empty(tmp_path):
    assert sparklog.file_batches(str(tmp_path)) == {}


# -- progress and event-log folding -----------------------------------------
def test_fold_progress_phases_and_state():
    progress = [
        {"durationMs": {"addBatch": 900, "triggerExecution": 1200, "walCommit": 50,
                        "queryPlanning": 80, "commitOffsets": 40, "latestOffset": 5,
                        "getBatch": 2},
         "stateOperators": [{"numRowsTotal": 10, "numRowsUpdated": 10,
                             "numRowsDroppedByWatermark": 1, "memoryUsedBytes": 100,
                             "commitTimeMs": 300,
                             "customMetrics": {"rocksdbCommitFileSyncLatencyMs": 200}}]},
        {"durationMs": {"addBatch": 500, "triggerExecution": 1000},
         "stateOperators": [{"numRowsTotal": 7, "numRowsUpdated": 2,
                             "numRowsDroppedByWatermark": 0, "memoryUsedBytes": 300,
                             "commitTimeMs": 100, "customMetrics": {}}]},
    ]
    f = sparklog.fold_progress(progress)
    assert f["batches"] == 2
    assert f["add_batch_ms.total"] == 1400
    assert f["overhead_ms.med"] == 400  # (300 + 500) / 2
    assert f["wal_commit_ms.total"] == 50
    assert f["state"] == {"rows_total": 10, "rows_updated": 12,
                          "rows_dropped_by_watermark": 1, "memory_bytes": 300,
                          "commit_ms": 400, "rocksdb_file_sync_ms": 200}


def test_fold_eventlog_recorded():
    events = list(sparklog.read_events(os.path.join(DATA, "eventlog")))
    groups = sparklog.fold_eventlog(events)
    g = groups["drain"]
    # accumulator ids joined to plan nodes: the ArrowEvalPython (html->text)
    # Python time and bytes, and the stateful aggregate's stage (task skew)
    assert g["python_worker_ms"] > 0
    assert g["python_bytes_in"] > 0
    assert g["stateful_python_worker_ms"] == 0
    assert g["shuffle_write_bytes"] > 0
    assert g["shuffle_write_bytes"] == g["shuffle_read_bytes"]
    assert g["task_skew"] >= 1.0
    assert set(groups) == {"drain"}


def test_fold_eventlog_by_accumulator_id():
    plan = {"nodeName": "WholeStageCodegen (1)", "metrics": [], "children": [
        {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
            {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
            {"name": "data sent to Python workers", "accumulatorId": 8, "metricType": "size"}]},
        {"nodeName": "StateStoreSave", "children": [], "metrics": [
            {"name": "time to run Python workers", "accumulatorId": 9, "metricType": "timing"},
            {"name": "time to commit changes", "accumulatorId": 10, "metricType": "timing"}]},
    ]}

    def task(stage, launch, finish, accs):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish,
                              "Accumulables": [{"ID": i, "Name": "x", "Update": str(v)}
                                               for i, v in accs]},
                "Task Metrics": {"Executor Run Time": finish - launch,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                                 "Shuffle Read Metrics": {"Local Bytes Read": 3,
                                                          "Remote Bytes Read": 1},
                                 "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 2}}

    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"perfbench.op": "q"}},
        task(1, 0, 10, [(7, 4), (8, 100)]),
        task(1, 0, 30, [(7, 6), (8, 50)]),
        task(2, 0, 10, [(9, 3), (10, 20)]),
        task(2, 0, 10, [(9, 1), (10, 20)]),
        task(2, 0, 40, [(10, 20)]),
        task(3, 0, 10, []),  # a stage of an untagged job
    ]
    groups = sparklog.fold_eventlog(events)
    q = groups["q"]
    assert q["python_worker_ms"] == 10 and q["python_bytes_in"] == 150
    assert q["stateful_python_worker_ms"] == 4
    assert q["tasks"] == 5 and q["shuffle_write_bytes"] == 25 and q["shuffle_read_bytes"] == 20
    assert q["spill_bytes"] == 10
    assert q["task_skew"] == pytest.approx(4.0)  # stateful stage 2: 40 / median 10
    assert groups[""]["tasks"] == 1


# -- generators are functions of the seed ------------------------------------
def test_same_seed_same_input():
    a, b = gen.html_pages(5, 50), gen.html_pages(5, 50)
    assert a.table.equals(b.table) and np.array_equal(a.text_len, b.text_len)
    assert not a.table.equals(gen.html_pages(6, 50).table)
    c1 = gen.live_chunk(5, 3, 200, 1000, 0.3, 120, 300, 0.05, 0)
    c2 = gen.live_chunk(5, 3, 200, 1000, 0.3, 120, 300, 0.05, 0)
    assert c1.table.equals(c2.table) and np.array_equal(c1.on_time, c2.on_time)
    assert gen.enrichment(5, 20, 3, 3600).equals(gen.enrichment(5, 20, 3, 3600))
    assert gen.documents(5, 60).equals(gen.documents(5, 60))
    assert not gen.documents(5, 60).equals(gen.documents(6, 60))


def test_generated_text_length_matches_extraction_oracle():
    from logflow_spark.functions.text import extract_text_py

    p = gen.html_pages(9, 40)
    htmls = p.table.column("html").to_pylist()
    assert [len(extract_text_py(h)) for h in htmls] == list(p.text_len)
    sizes = [len(h) for h in gen.html_pages(9, 400).table.column("html").to_pylist()]
    assert min(sizes) < 2_000 and max(sizes) > 15_000


def test_late_rows_are_older_than_the_bound():
    c = gen.live_chunk(1, 4, 5000, 1000, 0.3, 120, 300, 0.02, gen.BASE_TS_US)
    ts = c.table.column("warc_ts").cast("int64").to_numpy()
    assert 0 < (~c.on_time).sum() < 300
    assert (ts[~c.on_time] < gen.BASE_TS_US).all()
    assert (ts[c.on_time] > gen.BASE_TS_US).all()


# -- references ---------------------------------------------------------------
def test_windowed_counts_matches_brute_force():
    rng = np.random.default_rng(0)
    ts = gen.BASE_TS_US + rng.integers(0, 3 * 3600, 500) * 1_000_000
    lang = rng.choice(["a", "b"], 500)
    host = rng.choice(["h1", "h2", "h3"], 500)
    got = reference.windowed_counts(ts, lang, host, 10, 5)
    minute = 60_000_000
    rows = []
    for t, l_, h in zip(ts, lang, host):
        for start in range((t // (5 * minute) - 1) * 5 * minute, t + 1, 5 * minute):
            if start <= t < start + 10 * minute:
                rows.append((start, l_, h))
    exp = pd.DataFrame(rows, columns=["window_start", "lang", "host"]).value_counts()
    exp = exp.rename("cnt").reset_index()
    assert reference.compare_frames(got, exp, ["window_start", "lang", "host"]) is None


def test_compare_frames_reports_differences():
    a = pd.DataFrame({"k": [1, 2], "v": [1.0, np.nan]})
    assert reference.compare_frames(a, a.iloc[::-1], ["k"]) is None
    assert reference.compare_frames(a, a.assign(v=[1.0, 2.0]), ["k"]) == "column v differs"
    assert reference.compare_frames(a.iloc[:1], a, ["k"]).startswith("rows 1")


def test_asof_join_takes_latest_at_or_before():
    pages = pd.DataFrame({"host": ["a", "a", "b"], "url": ["u1", "u2", "u3"],
                          "warc_ts": pd.to_datetime([10, 30, 5], unit="s"),
                          "lang": ["en"] * 3})
    enrich = pd.DataFrame({"host": ["a", "a", "b"],
                           "ts": pd.to_datetime([5, 20, 9], unit="s"),
                           "category": ["x", "y", "z"], "score": [0.1, 0.2, 0.3]})
    out = reference.asof_join(pages, enrich).set_index("url")
    assert out.loc["u1", "category"] == "x"
    assert out.loc["u2", "category"] == "y"
    assert pd.isna(out.loc["u3", "category"])


# -- process-tree accounting --------------------------------------------------
def test_process_tree_counts_children():
    import subprocess

    from perfbench import proctree

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        pids = proctree.descendants(os.getpid())
        assert pids[0] == os.getpid() and child.pid in pids
        assert proctree.pss_bytes(pids) > proctree.pss_bytes([child.pid]) > 0
        assert proctree.cpu_seconds(pids) >= proctree.cpu_seconds([os.getpid()]) > 0
        with proctree.MemorySampler() as mem:
            pass
        assert mem.peak > 0
        proctree.wait_gone([child.pid], timeout=0.2)  # outlives the timeout: killed
        assert child.poll() is not None
    finally:
        child.kill()
        child.wait(timeout=10)
