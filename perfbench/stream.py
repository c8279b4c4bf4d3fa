"""``tr_stream``: live ingest through the streaming pipeline.

Pipeline: text file source → ``parse_stream`` → ``wide_conversation_
segments_stream`` with the keying and state store ``run_scale_stream``
uses (bucketed lifecycle, RocksDB state store; state partitions are the
session's shuffle partitions, one per core) →
``write_segments_stream`` with the program's default trigger.

Phase 1 (closed, one shot): drain a pre-spooled backlog with
``availableNow``; events per second exposes per-event cost.
Phase 2 (open loop): a generator thread writes one event file every
1/``RATE_FILES_PER_S`` seconds on a fixed wall-clock schedule, whatever
the query is doing. A file's latency is the commit time of the
micro-batch whose sink output holds the last segment the file's events
trigger (checkpoint ``commits/<batch>``) minus the time the file was due.
Files map to micro-batches through the file source's log
(``sources/0/<offset>``) and the offset log (``offsets/<batch>``). Files
due in the first ``WARMUP_S`` seconds are excluded.

Checks: the sink's terminal segments for every task whose events were
all written must match the generator's plan (counts and measure sums
per kind), no segment may belong to an unknown task, and no row may be
dropped by the watermark.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import threading
import time

import gen
from common import Run, median, quantile

CHUNK_EVENTS = 200
BACKLOG_FILES = 20
RATE_FILES_PER_S = 2.0  # 400 events/s: each ~2 s micro-batch keeps up with it
WARMUP_S = 2.0
SETUP_REPS = 3
AWAIT_S = 120


def plan_sizes(seconds: int) -> gen.Sizes:
    files = BACKLOG_FILES + int(seconds * RATE_FILES_PER_S) + 8
    n_tasks = files * CHUNK_EVENTS * 12 // 52  # ~4.3 events per task at the mix
    # about one minute of event time per file: the watermark delay and
    # the conversation timeout (10 minutes each) span ~10 files
    return gen.Sizes(n_tasks=n_tasks, span_hours=files / 60.0, chunk_events=CHUNK_EVENTS)


def write_file(indir: str, tmpdir: str, k: int, lines: list[str]) -> str:
    """Atomic: write under a temp path, then rename into the source dir."""
    name = f"f{k:05d}.json"
    tmp = os.path.join(tmpdir, name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(indir, name))
    return name


def _log_entries(path: str) -> list[dict]:
    """JSON lines of one checkpoint log file, after its version line."""
    with open(path) as f:
        lines = f.read().splitlines()[1:]
    out = []
    for line in lines:
        try:
            out.append(json.loads(line))
        except json.JSONDecodeError:
            continue
    return out


def file_batches(ckpt: str) -> dict[str, int]:
    """File name → id of the query batch that read it.

    The file source logs each new file under its own log offset
    (``sources/0/<offset>``, plain and compacted entries), and query batch
    b reads the log offsets in (offset of b-1, offset of b], with offset
    of b from ``offsets/<b>`` (source 0's ``logOffset``). No-data batches
    (a watermark advance, the end of an ``availableNow`` drain) advance
    the batch id but not the log offset, so the two ids drift apart."""
    ends = []  # (query batch id, source 0 log offset)
    for path in glob.glob(os.path.join(ckpt, "offsets", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            entries = _log_entries(path)
            if len(entries) >= 2:
                ends.append((int(name), int(entries[1]["logOffset"])))
    ends.sort()
    offsets = [off for _, off in ends]
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        for e in _log_entries(path):
            i = bisect.bisect_left(offsets, int(e["batchId"]))
            if i < len(ends):
                out[os.path.basename(e["path"])] = ends[i][0]
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    out = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime
    return out


class Generator(threading.Thread):
    """Open-loop writer: file k is due at t0 + k / rate."""

    def __init__(self, plan, first, indir, tmpdir, seconds):
        super().__init__(daemon=True)
        self.plan, self.first = plan, first
        self.indir, self.tmpdir, self.seconds = indir, tmpdir, seconds
        self.due: dict[str, float] = {}
        self.late: list[float] = []
        self.error: Exception | None = None
        self.t0 = 0.0
        self.last_chunk = first

    def run(self):
        try:
            self.t0 = time.time()
            k = self.first
            while k < len(self.plan.chunks):
                due = self.t0 + (k - self.first) / RATE_FILES_PER_S
                if due >= self.t0 + self.seconds:
                    break
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = write_file(self.indir, self.tmpdir, k, self.plan.chunks[k])
                self.late.append(time.time() - due)
                self.due[name] = due
                k += 1
                self.last_chunk = k
        except Exception as exc:  # reported by the run as a failed op
            self.error = exc


class SinkWatcher:
    """Which committed sink batch first holds each (segment kind, task)
    key, read from the file sink's metadata log as batches commit."""

    def __init__(self, out: str):
        self.meta = os.path.join(out, "_spark_metadata")
        self.batch: dict[tuple[str, str], int] = {}
        self._seen: set[str] = set()

    def poll(self) -> None:
        import pyarrow.parquet as pq

        if not os.path.isdir(self.meta):
            return
        names = [n for n in os.listdir(self.meta) if n.split(".")[0].isdigit()]
        for name in sorted(names, key=lambda n: int(n.split(".")[0])):
            if name in self._seen:
                continue
            self._seen.add(name)
            with open(os.path.join(self.meta, name)) as f:
                entries = [json.loads(line) for line in f.read().splitlines()[1:]]
            for e in entries:
                path = e["path"].removeprefix("file://")
                if path in self._seen:
                    continue
                self._seen.add(path)
                b = int(name.split(".")[0])
                t = pq.read_table(path, columns=["segment_kind", "conversation_id"])
                for kind, task in zip(*(c.to_pylist() for c in t.columns)):
                    self.batch.setdefault((kind, task), b)


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]


def start_query(spark, indir, out, ckpt, buckets, available_now: bool):
    from twilio_event_streams_reporting_example_spark.streaming import taskrouter_stream as ts

    raw = spark.readStream.format("text").load(indir)
    wide = ts.wide_conversation_segments_stream(ts.parse_stream(raw), buckets=buckets)
    w = ts.write_segments_stream(wide, out, ckpt)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def configure(spark) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )


def drain(spark, indir: str, base: str, buckets: int, n_events: int):
    """availableNow over the spooled backlog; returns (events/s, query)."""
    t0 = time.perf_counter()
    q = start_query(spark, indir, f"{base}/out", f"{base}/ckpt", buckets, True)
    finished = q.awaitTermination(AWAIT_S)
    elapsed = time.perf_counter() - t0
    if not finished:
        q.stop()
        raise TimeoutError(f"drain did not finish in {AWAIT_S}s")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return n_events / elapsed, q


def run(r: Run, setup_s_first: float) -> None:
    from twilio_event_streams_reporting_example_spark.streaming import taskrouter_stream as ts

    spark = r.spark
    sizes = plan_sizes(r.seconds)
    setups = []
    for k in range(SETUP_REPS):
        t0 = time.perf_counter()
        plan = gen.Plan(sizes, r.seed)
        indir, tmpdir = str(r.work / f"in-{k}"), str(r.work / f"tmp-{k}")
        os.makedirs(indir)
        os.makedirs(tmpdir)
        for j in range(BACKLOG_FILES):
            write_file(indir, tmpdir, j, plan.chunks[j])
        setups.append(time.perf_counter() - t0)
    r.metric("setup_s", setup_s_first + median(setups), "s")
    r.notes["generator"] = sizes.describe()
    r.notes["rate_files_per_s"] = RATE_FILES_PER_S
    r.notes["rate_events_per_s"] = RATE_FILES_PER_S * CHUNK_EVENTS
    configure(spark)
    buckets = ts.lifecycle_buckets(16, cores=spark.sparkContext.defaultParallelism)
    base = str(r.work / "stream")
    backlog_events = sum(len(c) for c in plan.chunks[:BACKLOG_FILES])

    # phase 1: drain
    with r.span("stream.drain"):
        res = r.attempt(drain, spark, indir, base, buckets, backlog_events)
    if res is None:
        return
    rate, q1 = res
    r.metric("throughput_events_per_s", rate, "1/s")
    r.notes["drain_run_id"] = str(q1.runId)

    # phase 2: open loop
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    r.attempted += 1
    q = start_query(spark, indir, out, ckpt, buckets, False)
    r.notes["open_run_id"] = str(q.runId)
    g = Generator(plan, BACKLOG_FILES, indir, tmpdir, r.seconds)
    sink = SinkWatcher(out)
    with r.span("stream.open_loop"):
        g.start()
        g.join(r.seconds + 30)
        batches, commits = file_batches(ckpt), commit_times(ckpt)
        backlog_at_stop = sum(1 for f in g.due if batches.get(f) not in commits)
        # every segment an event in a written file triggers must reach the sink
        want = {k for k, c in plan.trigger_chunk.items() if c < g.last_chunk}
        deadline = time.time() + AWAIT_S
        while time.time() < deadline and q.exception() is None:
            sink.poll()
            if want <= sink.batch.keys():
                break
            time.sleep(0.2)
    progress = _progress(q)
    q.stop()
    q.awaitTermination(AWAIT_S)
    missing = want - sink.batch.keys()
    if g.error is not None or g.is_alive() or missing or q.exception() is not None:
        r.failed += 1
        r.errors.append(
            f"open loop: generator={g.error} alive={g.is_alive()} "
            f"segments not in sink={len(missing)} query={q.exception()}"
        )
        return

    # a file's latency: from when it was due until the commit of the batch
    # that made the last segment its events trigger durable
    batches, commits = file_batches(ckpt), commit_times(ckpt)
    last_batch: dict[int, int] = {}
    for key, c in plan.trigger_chunk.items():
        if key in sink.batch:
            last_batch[c] = max(last_batch.get(c, -1), sink.batch[key])
    lat = []
    for f, due in g.due.items():
        c = int(f[1:6])
        if due >= g.t0 + WARMUP_S and c in last_batch:
            lat.append(commits[last_batch[c]] - due)
    r.metric("op_s_p50", quantile(lat, 0.5), "s")
    r.notes["latency_samples"] = len(lat)
    r.notes["latency_s_p90"] = quantile(lat, 0.9)
    r.notes["latency_s_p95"] = quantile(lat, 0.95)
    r.notes["emit_lag_batches_max"] = max(
        sink.batch[k] - batches[f"f{c:05d}.json"]
        for k, c in plan.trigger_chunk.items()
        if k in sink.batch and f"f{c:05d}.json" in batches
    )
    warm_batch = min(
        (batches[f] for f, due in g.due.items() if due >= g.t0 + WARMUP_S), default=0
    )
    data = [p for p in progress if p["numInputRows"] > 0 and p["batchId"] >= warm_batch]
    r.metric("fold_s_p50", median([p["durationMs"]["triggerExecution"] for p in data]) / 1000, "s")
    r.notes["fold_samples"] = len(data)

    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in _progress(q1) + progress
        for op in p.get("stateOperators", [])
    )
    r.check(dropped == 0, f"{dropped} rows dropped by the watermark")
    check_sink(r, spark, f"{base}/out", plan, g.last_chunk)

    if r.trace:
        stream_layers(r, progress, data, dropped, backlog_at_stop, g)


def check_sink(r: Run, spark, out: str, plan: gen.Plan, n_chunks: int) -> None:
    done = plan.tasks_done_by_chunk(n_chunks)
    written = set()
    for tasks in plan.chunk_tasks[:n_chunks]:
        written |= tasks
    sink = spark.read.parquet(out)
    sink.createOrReplaceTempView("perfbench_sink")
    ids = spark.createDataFrame([(t,) for t in sorted(done)], "conversation_id string")
    ids.createOrReplaceTempView("perfbench_done")
    rows = spark.sql(
        gen.fact_summary_sql(
            "perfbench_sink",
            "WHERE conversation_id IN (SELECT conversation_id FROM perfbench_done)",
        )
    ).collect()
    want = gen.summarize(plan.segments, tasks=done, kinds=gen.KINDS_TASK)
    bad = gen.diff_summary(want, gen.rows_to_summary(rows))
    r.check(not bad, "stream sink: " + "; ".join(bad))
    seen = {row[0] for row in sink.select("conversation_id").distinct().collect()}
    unknown = seen - written
    r.check(not unknown, f"stream sink has segments of unknown tasks {sorted(unknown)[:5]}")
    r.notes["checked_tasks"] = len(done)


def stream_layers(r: Run, progress, data, dropped, backlog_at_stop, g) -> None:
    for key in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
        r.layer_metric(
            f"stream.batch.{key}_ms",
            median([p["durationMs"].get(key, 0) for p in data]),
            "ms",
        )
    r.layer_metric(
        "stream.state.commit_ms",
        median([sum(op.get("commitTimeMs", 0) for op in p["stateOperators"]) for p in data]),
        "ms",
    )
    r.layer_metric("stream.rows_per_batch_p50", median([p["numInputRows"] for p in data]), "count")
    last = progress[-1]["stateOperators"] if progress else []
    dedup = [op for op in last if "dedup" in op.get("operatorName", "").lower()]
    life = [op for op in last if "pandas" in op.get("operatorName", "").lower()]
    r.layer_metric("stream.state.dedup.rows_total", sum(op["numRowsTotal"] for op in dedup), "count")
    r.layer_metric(
        "stream.state.lifecycle.rows_total", sum(op["numRowsTotal"] for op in life), "count"
    )
    r.layer_metric(
        "stream.state.lifecycle.memory_bytes", sum(op["memoryUsedBytes"] for op in life), "B"
    )
    r.notes["state_operators"] = [op.get("operatorName") for op in last]
    r.layer_metric("stream.state.rows_dropped_by_watermark", dropped, "count")
    r.layer_metric("stream.backlog_files_at_stop", backlog_at_stop, "count")
    r.layer_metric("stream.generator_late_s_max", max(g.late), "s")
