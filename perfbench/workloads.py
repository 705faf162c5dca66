"""The benchmark workloads.

Each workload stages its inputs (untimed), warms up on an input of the same
shape, runs its timed region for the requested seconds, then checks what the
engine committed against an independent reference. ExtractDrain and LiveSkew
are the benchmark's workloads; EnrichJoinDrain and DocsBatch run as
companions inside a traced run, so that the stateful join and the batch
operators are measured too. The engine is
driven only through its public functions: session.get_spark, the replay
sources, streaming.topology, streaming.stateful_join,
sinks.exactly_once.ExactlyOnceParquetSink and __spark_entry__.queries().
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from perfbench import gen, reference, sparklog
from perfbench.proctree import cpu_seconds, descendants
from perfbench.tracing import Tracer


@dataclass
class Ops:
    """Outcome of a timed region: one latency per op, and failures."""

    latencies: list[float] = field(default_factory=list)
    rows: int = 0
    busy_s: float = 0.0
    # CPU seconds of the process tree per 1000 rows, one sample per measured op
    cpu_s_per_krow: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, why: str) -> None:
        self.failed += 1
        self.errors.append(why)


class StampedSink:
    """foreachBatch body around ExactlyOnceParquetSink that stamps the wall
    time each micro-batch's commit returned. When tracing, it first
    materializes the batch (span 'upstream') so that 'sink.write_batch'
    times the sink alone."""

    def __init__(self, sink, tracer: Tracer, parent: int | None = None) -> None:
        self.sink = sink
        self.tracer = tracer
        self.parent = parent
        self.committed_at: dict[int, float] = {}
        self.write_s: list[float] = []
        self.upstream_s: list[float] = []
        self.error: BaseException | None = None

    def __call__(self, df, batch_id: int) -> None:
        try:
            if self.tracer.enabled:
                with self.tracer.span("sink.batch", parent=self.parent, batch=batch_id):
                    t0 = time.perf_counter()
                    with self.tracer.span("upstream"):
                        df = df.persist()
                        df.count()
                    t1 = time.perf_counter()
                    with self.tracer.span("sink.write_batch"):
                        self.sink.write_batch(df, batch_id)
                    t2 = time.perf_counter()
                    df.unpersist()
                self.upstream_s.append(t1 - t0)
                self.write_s.append(t2 - t1)
            else:
                self.sink.write_batch(df, batch_id)
            self.committed_at[batch_id] = time.time()
        except BaseException as e:  # re-raised by the harness once the query stops
            self.error = e
            raise


class _SinkHandle:
    """What run_streaming_to_sink needs of a sink: its foreachBatch body."""

    def __init__(self, stamped: StampedSink) -> None:
        self._stamped = stamped

    def foreach_batch(self):
        return self._stamped


@dataclass
class DrainResult:
    sink: object
    stamped: StampedSink
    progress: list[dict]


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _set_op(spark, name: str) -> None:
    """Tag the jobs this thread (and queries it starts) submits, so the event
    log folds per op."""
    spark.sparkContext.setLocalProperty(sparklog.OP_PROPERTY, name)


def _trigger_layer(progress: list[dict]) -> dict:
    f = sparklog.fold_progress(progress)
    out = {"trigger.batches": f["batches"],
           "sources.latest_offset_ms": f["latest_offset_ms.med"],
           "sources.get_batch_ms": f["get_batch_ms.med"]}
    for k in ("planning_ms", "wal_commit_ms", "commit_offsets_ms", "add_batch_ms",
              "overhead_ms"):
        out[f"trigger.{k}.med"] = f[k + ".med"]
        out[f"trigger.{k}.total"] = f[k + ".total"]
    for k, v in f["state"].items():
        out["state." + k] = v
    return out


def _sink_layer(r: DrainResult) -> dict:
    ms = r.sink.manifests()
    out = {
        "sink.commits": len(ms),
        "sink.files": sum(m["n_files"] for m in ms),
        "sink.bytes": sum(f["bytes"] for m in ms for f in m["files"]),
    }
    if r.stamped.write_s:
        out["sink.write_batch_ms"] = 1000 * statistics.median(r.stamped.write_s)
        out["sink.upstream_ms"] = 1000 * statistics.median(r.stamped.upstream_s)
    return out


class Workload:
    name = ""
    # prepended to the op tag of timed jobs; the traced pass sets it so the
    # event log folds that pass alone
    tag_prefix = ""

    def __init__(self, seed: int, work: str, tracer: Tracer, spec: dict) -> None:
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spec = spec
        os.makedirs(work, exist_ok=True)

    def fresh_dir(self, tag: str) -> str:
        d = os.path.join(self.work, "runs", f"{tag}-{time.monotonic_ns()}")
        os.makedirs(d)
        return d


# --------------------------------------------------------------------------
# closed loop: availableNow drains of one staged page file
# --------------------------------------------------------------------------
class DrainWorkload(Workload):
    """Closed loop: drain the staged input again and again (fresh checkpoint
    and table each time) until the time is up, and at least CPU_OPS times;
    one drain is one op. The CPU cost is the median over the first CPU_OPS
    drains only: drains keep getting cheaper as the JIT warms, so a figure
    over however many drains fit in the time would move with the host's
    speed.

    The warm-up (part of the set-up) is WARMUPS drains of the same input:
    the first pays code generation and Python-worker start, the others let
    the JIT settle (measured: after one, the timed drains cost ~15% more CPU;
    after two, their CPU still fell from drain to drain and spread 0.21
    (IQR / median) over ten runs); a smaller input leaves
    Python workers unstarted and the JIT cold for the timed drains (measured:
    after a 500-row warm-up the next drains ran up to 1.3x slower than later
    ones, and varied more from run to run)."""

    OP_ROWS = 0
    CPU_OPS = 4
    WARMUPS = 3

    def drain(self, spark, in_dir: str, parent=None) -> tuple[float, DrainResult]:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        _set_op(spark, "warmup")
        for _ in range(self.WARMUPS):
            self.drain(spark, self.in_dir)

    def measure(self, spark, seconds: float) -> Ops:
        ops = Ops()
        t_end = time.perf_counter() + seconds
        self.results: list[DrainResult] = []
        while True:
            ops.attempted += 1
            _set_op(spark, self.tag_prefix + self.name)
            cpu0 = cpu_seconds(descendants(os.getpid()))
            try:
                with self.tracer.span("drain") as sid:
                    wall, result = self.drain(spark, self.in_dir, sid)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                ops.fail(f"drain: {type(e).__name__}: {e}")
            else:
                ops.latencies.append(wall)
                ops.busy_s += wall
                ops.rows += self.OP_ROWS
                if len(ops.latencies) <= self.CPU_OPS:
                    cpu = cpu_seconds(descendants(os.getpid())) - cpu0
                    ops.cpu_s_per_krow.append(1000 * cpu / self.OP_ROWS)
                self.results.append(result)
            if time.perf_counter() >= t_end and ops.attempted >= self.CPU_OPS:
                break
        return ops

    def check(self, spark, ops: Ops) -> None:
        for r in self.results:
            why = self.compare(r)
            if why:
                ops.fail(f"{self.name} reference: {why}")

    def layers(self, spark, ops: Ops) -> dict:
        out = _trigger_layer(self.results[-1].progress)
        out.update(_sink_layer(self.results[-1]))
        return out


def _await(q, stamped: StampedSink) -> None:
    q.awaitTermination()
    if stamped.error is not None:
        raise stamped.error


class ExtractDrain(DrainWorkload):
    """One fat file of html-only pages (and the flush row) through the
    flagship topology with its defaults: udf extraction, tumbling 10-min
    windows, sum_text_chars, exactly-once sink."""

    name = "pages_extract_drain"
    OP_ROWS = 12_000
    HOSTS = 100

    def generate(self, seconds: float) -> None:
        self.in_dir = os.path.join(self.work, "in")
        os.makedirs(self.in_dir)
        pages = gen.html_pages(self.seed, self.OP_ROWS, self.HOSTS)
        t = pages.table
        # the flush row rides in the same file, so one drain is one data
        # micro-batch plus the no-data batch that emits the closed windows;
        # several row groups let the default split sizing use every core
        last = int(t.column("warc_ts").cast(pa.int64()).to_numpy().max())
        gen.write_parquet(pa.concat_tables([t, gen.flush_table(last + 24 * 3600 * 1_000_000)]),
                          os.path.join(self.in_dir, "pages-00000.parquet"),
                          row_group_size=max(1, self.OP_ROWS // 32))
        self.expected = reference.windowed_counts(
            t.column("warc_ts").cast(pa.int64()).to_numpy(),
            t.column("lang").to_numpy(zero_copy_only=False), pages.host, 10, 10,
            text_len=pages.text_len)

    def drain(self, spark, in_dir: str, parent=None) -> tuple[float, DrainResult]:
        from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
        from logflow_spark.sources.replay import pages_replay_stream
        from logflow_spark.streaming.topology import TopologyConfig, run_streaming_to_sink

        d = self.fresh_dir("drain")
        sink = ExactlyOnceParquetSink(os.path.join(d, "table"))
        stamped = StampedSink(sink, self.tracer, parent)
        t0 = time.perf_counter()
        q = run_streaming_to_sink(pages_replay_stream(spark, in_dir),
                                  TopologyConfig(sum_text_chars=True), _SinkHandle(stamped),
                                  os.path.join(d, "ck"))
        _await(q, stamped)
        return time.perf_counter() - t0, DrainResult(sink, stamped, _progress(q))

    def compare(self, r: DrainResult) -> str | None:
        got = reference.read_sink_windows(r.sink.committed_files())
        return reference.compare_frames(got, self.expected, ["window_start", "lang", "host"])

    def layers(self, spark, ops: Ops) -> dict:
        """Adds the isolated extraction cost: parse_and_enrich over the staged
        file into the noop sink, minus a plain read of the same file."""
        from pyspark.sql import functions as F

        from logflow_spark.schema import PAGES_SCHEMA
        from logflow_spark.streaming.topology import TopologyConfig, parse_and_enrich

        out = super().layers(spark, ops)
        path = os.path.join(self.in_dir, "pages-00000.parquet")
        _set_op(spark, "scan")
        with self.tracer.span("sources.scan"):
            t0 = time.perf_counter()
            spark.read.schema(PAGES_SCHEMA).parquet(path).write.format("noop").mode(
                "overwrite").save()
            scan_s = time.perf_counter() - t0
        _set_op(spark, "extract")
        with self.tracer.span("text.extract"):
            t0 = time.perf_counter()
            df = parse_and_enrich(spark.read.schema(PAGES_SCHEMA).parquet(path),
                                  TopologyConfig(sum_text_chars=True))
            df.select(F.length("text")).write.format("noop").mode("overwrite").save()
            full_s = time.perf_counter() - t0
        out["sources.scan_s"] = scan_s
        out["text.extract_s"] = max(0.0, full_s - scan_s)
        med = statistics.median(ops.latencies) if ops.latencies else 0.0
        out["share.text_of_drain"] = out["text.extract_s"] / med if med else 0.0
        return out


class EnrichJoinDrain(DrainWorkload):
    """pages stream + per-host enrichment stream (several updates per host)
    -> tag_and_merge -> AsofEnrichJoin.apply -> exactly-once sink. A
    companion of a traced run: one warm-up drain and one timed drain."""

    name = "pages_enrich_join"
    CPU_OPS = 1
    WARMUPS = 1
    OP_ROWS = 20_000
    HOSTS = 400
    UPDATES = 6
    SPAN_S = 6 * 3600

    def generate(self, seconds: float) -> None:
        self.in_dir = d = os.path.join(self.work, "in")
        n = self.OP_ROWS
        os.makedirs(os.path.join(d, "pages"))
        os.makedirs(os.path.join(d, "enrich"))
        rng = np.random.default_rng([self.seed, 3])
        hosts = rng.integers(0, self.HOSTS, n)
        ts = gen.BASE_TS_US + rng.integers(0, self.SPAN_S, n) * 1_000_000
        pages = pa.table(
            {
                "url": [f"https://{gen.host_name(int(h))}/j/{i}" for i, h in enumerate(hosts)],
                "warc_ts": gen.ts_array(ts),
                "html": pa.nulls(n, pa.binary()),
                "text": pa.nulls(n, pa.string()),
                "lang": [gen.LANGS[int(h) % len(gen.LANGS)] for h in hosts],
            },
            schema=gen.PAGES_ARROW,
        )
        enrich = gen.enrichment(self.seed, self.HOSTS, self.UPDATES, self.SPAN_S)
        base = time.time() - 100
        gen.write_parquet(pages, os.path.join(d, "pages", "p-00000.parquet"), base,
                          row_group_size=max(1, n // 16))
        gen.write_parquet(enrich, os.path.join(d, "enrich", "e-00000.parquet"), base)
        pdf = pages.select(["url", "warc_ts", "lang"]).to_pandas()
        pdf["host"] = [u.split("/")[2] for u in pdf["url"]]
        self.expected = reference.normalize_join_output(
            reference.asof_join(pdf, enrich.to_pandas()))

    def drain(self, spark, in_dir: str, parent=None) -> tuple[float, DrainResult]:
        from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
        from logflow_spark.sources.replay import enrichment_replay_stream, pages_replay_stream
        from logflow_spark.streaming.stateful_join import AsofEnrichJoin, tag_and_merge
        from logflow_spark.streaming.topology import TopologyConfig, parse_and_enrich

        d = self.fresh_dir("join")
        sink = ExactlyOnceParquetSink(os.path.join(d, "table"))
        stamped = StampedSink(sink, self.tracer, parent)
        t0 = time.perf_counter()
        pages = parse_and_enrich(pages_replay_stream(spark, os.path.join(in_dir, "pages")),
                                 TopologyConfig())
        enrich = enrichment_replay_stream(spark, os.path.join(in_dir, "enrich"))
        q = (AsofEnrichJoin.apply(tag_and_merge(pages, enrich)).writeStream
             .outputMode("append").option("checkpointLocation", os.path.join(d, "ck"))
             .foreachBatch(stamped).trigger(availableNow=True).start())
        _await(q, stamped)
        return time.perf_counter() - t0, DrainResult(sink, stamped, _progress(q))

    def compare(self, r: DrainResult) -> str | None:
        got = reference.read_parquet_files(r.sink.committed_files())
        return reference.compare_frames(reference.normalize_join_output(got),
                                        self.expected, ["url"])

    def layers(self, spark, ops: Ops) -> dict:
        f = sparklog.fold_progress(self.results[-1].progress)
        drain_s = statistics.median(ops.latencies) if ops.latencies else 0.0
        return {"join.state_rows": f["state"]["rows_total"],
                "join.add_batch_ms": f["add_batch_ms.total"],
                "join.rows_per_s": self.OP_ROWS / drain_s if drain_s else 0.0}


# --------------------------------------------------------------------------
# open loop: live WET-style pages on a fixed schedule
# --------------------------------------------------------------------------
class LiveSkew(Workload):
    """A generator thread publishes one chunk every 1/rate seconds (atomic
    rename, increasing mtime) while a default-trigger query runs the
    flagship topology with sliding windows over text-present pages."""

    name = "pages_live_skew"
    ROWS = 10_000
    HOSTS = 20_000
    HOT = 0.3
    CHUNK_SPAN_S = 120
    DISORDER_S = 300
    LATE = 0.01
    WATERMARK_S = 1800  # TopologyConfig's default watermark
    WINDOW_MIN, SLIDE_MIN = 10, 5

    def __init__(self, seed: int, work: str, tracer: Tracer, spec: dict) -> None:
        super().__init__(seed, work, tracer, spec)
        self.rate = spec["live"]["rate_chunks_per_s"]
        self.limit_s = spec["live"]["latency_limit_s"]

    @staticmethod
    def cfg():
        from logflow_spark.streaming.topology import TopologyConfig

        return TopologyConfig(window_kind="sliding", duration="10 minutes",
                              slide="5 minutes", extract_when_missing=False)

    def _chunks(self, seed: int, n: int, rows: int) -> list[gen.LiveChunk]:
        first = gen.live_chunk(seed, 0, rows, self.HOSTS, self.HOT, self.CHUNK_SPAN_S,
                               self.DISORDER_S, self.LATE, None)
        ts0 = first.table.column("warc_ts").cast(pa.int64()).to_numpy()
        # the watermark reached once the first chunk commits; late rows go a
        # window length (plus margin) below it, so every window they touch is
        # closed before they arrive and they are dropped however the later
        # chunks group into batches
        late_before = (int(ts0.max()) - self.WATERMARK_S * 1_000_000
                       - (self.WINDOW_MIN + 5) * 60_000_000)
        return [first] + [
            gen.live_chunk(seed, c, rows, self.HOSTS, self.HOT, self.CHUNK_SPAN_S,
                           self.DISORDER_S, self.LATE, late_before)
            for c in range(1, n)
        ]

    def generate(self, seconds: float) -> None:
        self.chunks = self._chunks(self.seed, 2 + int(seconds * self.rate), self.ROWS)

    @staticmethod
    def _stage(d: str, chunks: list[gen.LiveChunk]) -> list[str]:
        os.makedirs(os.path.join(d, "stage"))
        os.makedirs(os.path.join(d, "in"))
        names = []
        for c, ch in enumerate(chunks):
            names.append(f"chunk-{c:05d}.parquet")
            gen.write_parquet(ch.table, os.path.join(d, "stage", names[-1]))
        gen.write_parquet(gen.flush_table(gen.BASE_TS_US + 30 * 86400 * 1_000_000),
                          os.path.join(d, "stage", "flush.parquet"))
        return names

    @staticmethod
    def _publish(d: str, name: str) -> None:
        src = os.path.join(d, "stage", name)
        now = time.time()
        os.utime(src, (now, now))
        os.rename(src, os.path.join(d, "in", name))

    @staticmethod
    def _wait_commit(ck: str, stamped: StampedSink, name: str, timeout: float,
                     after: int = 0) -> int | None:
        """Wait until the batch that read `name` (and `after` batches more)
        has committed; returns that batch id, or None on timeout."""
        t_end = time.time() + timeout
        seen = -1
        while time.time() < t_end:
            if stamped.error is not None:
                raise stamped.error
            if len(stamped.committed_at) != seen:  # read the logs only after a commit
                seen = len(stamped.committed_at)
                b = sparklog.file_batches(ck).get(name)
                if b is not None and b + after in stamped.committed_at:
                    return b
            time.sleep(0.01)
        return None

    def session(self, spark, chunks: list[gen.LiveChunk], seconds: float,
                parent=None, timed: bool = True) -> dict:
        """Start the query, publish the first chunk and wait for its commit,
        publish the rest on schedule for `seconds`, then publish the flush
        row and wait until the windows it closes are committed. The warm-up
        (`timed=False`) stops after the first chunk."""
        from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
        from logflow_spark.sources.replay import pages_replay_stream
        from logflow_spark.streaming.topology import run_streaming_to_sink

        d = self.fresh_dir("live")
        names = self._stage(d, chunks)
        ck = os.path.join(d, "ck")
        sink = ExactlyOnceParquetSink(os.path.join(d, "table"))
        stamped = StampedSink(sink, self.tracer, parent)
        q = run_streaming_to_sink(pages_replay_stream(spark, os.path.join(d, "in")),
                                  self.cfg(), _SinkHandle(stamped), ck, available_now=False)
        due: dict[str, float] = {}
        lags: list[float] = []
        try:
            # Spark judges rows late against the previous batch's watermark,
            # so the schedule starts once the batch after the first chunk's
            # (the no-data batch its watermark advance triggers) committed
            self._publish(d, names[0])
            if self._wait_commit(ck, stamped, names[0], 120, after=int(timed)) is None:
                raise TimeoutError("first chunk never committed")
            t0 = time.time() + 0.05

            def generator() -> None:
                for i, name in enumerate(names[1:]):
                    t_due = t0 + i / self.rate
                    if t_due - t0 >= seconds:
                        return
                    delay = t_due - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    lags.append(max(0.0, time.time() - t_due))
                    self._publish(d, name)
                    due[name] = t_due

            g = threading.Thread(target=generator, name="perfbench-generator")
            g.start()
            g.join()
            if due:
                self._wait_commit(ck, stamped, max(due), self.limit_s)
            closed = None
            if timed:
                # the far-future row moves the watermark past every window;
                # the no-data batch after it emits them
                self._publish(d, "flush.parquet")
                closed = self._wait_commit(ck, stamped, "flush.parquet", 60, after=1)
        finally:
            progress = _progress(q)
            q.stop()
        if stamped.error is not None:
            raise stamped.error
        fb = sparklog.file_batches(ck)
        lat = {n: stamped.committed_at[fb[n]] - t for n, t in due.items()
               if n in fb and fb[n] in stamped.committed_at}
        return {"result": DrainResult(sink, stamped, progress), "due": due, "lat": lat,
                "lags": lags, "file_batches": fb, "closed": closed is not None,
                "names": names}

    def warmup(self, spark) -> None:
        """Two one-chunk queries: the second lets the JIT settle. The JIT
        goes on warming for minutes (measured: CPU per row of back-to-back
        timed sessions in one process fell 0.69, 0.64, 0.50, 0.43), and a
        warm-up of two three-chunk queries left runs split between ~0.64
        and ~0.85, a wider spread than every run staying near ~0.83."""
        _set_op(spark, "warmup")
        for _ in range(2):
            self.session(spark, self.chunks[:1], 0.0, timed=False)

    def measure(self, spark, seconds: float) -> Ops:
        ops = Ops()
        _set_op(spark, self.tag_prefix + self.name)
        cpu0 = cpu_seconds(descendants(os.getpid()))
        with self.tracer.span("live") as sid:
            self.live = r = self.session(spark, self.chunks, seconds, sid)
        # the whole session's CPU per row published: the work of its data
        # batches and of the no-data batches the engine runs between them
        ops.rows = self.ROWS * (1 + len(r["due"]))
        ops.cpu_s_per_krow.append(1000 * (cpu_seconds(descendants(os.getpid())) - cpu0) / ops.rows)
        for name in r["due"]:
            ops.attempted += 1
            v = r["lat"].get(name)
            if v is None or v > self.limit_s:
                ops.fail(f"{name}: latency {v} s over the {self.limit_s} s limit")
            else:
                ops.latencies.append(v)
        # wall throughput while busy: rows over the trigger time of the
        # batches that read data (the offered rate is fixed by the schedule)
        data = [p for p in r["result"].progress if p["numInputRows"] > 0]
        ops.busy_s = sum(p["durationMs"]["triggerExecution"] for p in data) / 1000
        return ops

    def check(self, spark, ops: Ops) -> None:
        """Windows over the on-time rows of every published chunk (one more
        op: the read-back of the table)."""
        r = self.live
        ops.attempted += 1
        if not r["closed"]:
            ops.fail("flush batch never committed")
            return
        chunks = [self.chunks[0]] + [self.chunks[i] for i, n in enumerate(r["names"])
                                     if n in r["due"]]
        t = pa.concat_tables([c.table for c in chunks])
        keep = np.concatenate([c.on_time for c in chunks])
        host = np.array([u.split("/")[2] for u in t.column("url").to_pylist()], dtype=object)
        exp = reference.windowed_counts(
            t.column("warc_ts").cast(pa.int64()).to_numpy()[keep],
            t.column("lang").to_numpy(zero_copy_only=False)[keep], host[keep],
            self.WINDOW_MIN, self.SLIDE_MIN)
        got = reference.read_sink_windows(r["result"].sink.committed_files())
        why = reference.compare_frames(got, exp, ["window_start", "lang", "host"])
        if why:
            ops.fail(f"{self.name} reference: {why}")

    def layers(self, spark, ops: Ops) -> dict:
        r = self.live
        out = _trigger_layer(r["result"].progress)
        out.update(_sink_layer(r["result"]))
        per_batch: dict[int, int] = {}
        for b in r["file_batches"].values():
            per_batch[b] = per_batch.get(b, 0) + 1
        out["sources.files_per_batch"] = statistics.median(per_batch.values()) if per_batch else 0
        out["gen.lag_s"] = max(r["lags"], default=0.0)
        out["gen.chunks"] = len(r["due"])
        _set_op(spark, "read")
        with self.tracer.span("sink.read"):
            t0 = time.perf_counter()
            r["result"].sink.read(spark).count()
            out["sink.read_s"] = time.perf_counter() - t0
        return out


# --------------------------------------------------------------------------
# batch: queries() entries, collected and checked (a traced-run companion)
# --------------------------------------------------------------------------
class DocsBatch(Workload):
    """A fixed list of queries() entries over a generated documents.parquet;
    one query run is one op. A companion of a traced run: one suite, each
    query timed from the call into queries() until its result is collected,
    then checked. It has no warm-up of its own: it runs in the session its
    host workload warmed, so each time includes the query's planning and
    code generation, as a batch query run once pays them."""

    name = "docs_dedup_batch"
    QUERIES = ("text_profile", "exact_dedup", "jaccard_pairs", "minhash_dedup_clusters",
               "simhash_neardup_pairs", "span_dedup_10tok", "incremental_dedup_batch",
               "token_commonness", "llm_pipeline_packed")
    DOCS = 1_000

    def generate(self, seconds: float) -> None:
        self.sf = os.path.join(self.work, "sf")
        os.makedirs(self.sf)
        gen.write_parquet(gen.documents(self.seed, self.DOCS),
                          os.path.join(self.sf, "documents.parquet"))

    def warmup(self, spark) -> None:
        pass

    def measure(self, spark, seconds: float) -> Ops:
        import __spark_entry__ as entry

        ops = Ops()
        self.per_query: dict[str, float] = {}
        self.results: dict = {}
        for q in self.QUERIES:
            ops.attempted += 1
            _set_op(spark, self.tag_prefix + q)
            t0 = time.perf_counter()
            try:
                with self.tracer.span("batch." + q):
                    self.results[q] = entry.queries()[q](spark, self.sf).toPandas()
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                ops.fail(f"{q}: {type(e).__name__}: {e}")
                continue
            self.per_query[q] = time.perf_counter() - t0
            ops.latencies.append(self.per_query[q])
        return ops

    def check(self, spark, ops: Ops) -> None:
        """Each collected result against its oracle_sql() twin in DuckDB."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        with duckdb.connect() as con:
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.sf, 'documents.parquet')}')")
            for q, got in self.results.items():
                ops.attempted += 1
                try:
                    exp = con.execute(oracles[q]).df()
                except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                    ops.fail(f"{q} reference: {type(e).__name__}: {e}")
                    continue
                why = reference.compare_query(got, exp)
                if why:
                    ops.fail(f"{q} reference: {why}")

    def layers(self, spark, ops: Ops) -> dict:
        out = {f"batch.{q}_s": v for q, v in self.per_query.items()}
        out["batch.suite_s"] = sum(self.per_query.values())
        return out


WORKLOADS = {w.name: w for w in (ExtractDrain, LiveSkew)}
