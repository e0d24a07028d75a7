"""``order_stream``: file-drop order stream through the ETL and windowed
statistics queries, with a drained backlog and an open-loop phase.

Two streaming queries read one watched directory of order JSON files:

- ETL: ``file_stream_source`` → ``parse_order_strings_with_rejects`` →
  ``flatten_order_lines`` → parquet sink plus a dead-letter queue (DLQ),
  both written by this module's ``foreachBatch`` handler;
- windowed statistics: the same parse and flatten, then
  ``streaming.pipeline.windowed_stats`` per minute and ship state with a
  watermark, appended through ``sinks.streaming.file_sink``.

Both queries start on a pre-written backlog, at most
``MAX_FILES_PER_TRIGGER`` files per micro-batch. Their first micro-batch
is the untimed warm-up; phase 1 times the drain of the rest. Phase 2
writes files on a fixed schedule (open loop) for the run's seconds; an
order's latency is the commit time of its ETL micro-batch minus the time
its file was due. Files are mapped to micro-batches from the
checkpoints' source and offset logs, so no extra Spark action is needed.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from . import harness, orders
from .sparkstats import ExecStats

ORDERS_PER_FILE = 25
BACKLOG_FILES = 60            # 1,500 orders, drained in 4 micro-batches
RATE = 40                     # phase-2 orders per second
INTERVAL = ORDERS_PER_FILE / RATE
MAX_FILES_PER_TRIGGER = 15
WARMUP_FILES = MAX_FILES_PER_TRIGGER  # the untimed first micro-batch
BACKLOG_SPAN_S = 240.0        # event-time span of the backlog
WINDOW = "1 minute"
WATERMARK = "30 seconds"
DRAIN_TIMEOUT_S = 60.0


def _order_aggs():
    return [
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("line_number") == 1, 1).otherwise(0)).alias("n_orders"),
        F.sum(F.round(F.col("line_charge_amount") * 100).cast("long")).alias("charge_cents"),
        F.sum("quantity").alias("quantity"),
    ]


class Layout:
    """Directories of the stream: input, sinks and checkpoints."""

    def __init__(self, base: str) -> None:
        self.base = base
        self.stage = os.path.join(base, "stage")
        self.input = os.path.join(base, "in")
        self.sink = os.path.join(base, "sink")
        self.dlq = os.path.join(base, "dlq")
        self.windows = os.path.join(base, "windows")
        self.etl_ckpt = os.path.join(base, "ckpt_etl")
        self.win_ckpt = os.path.join(base, "ckpt_win")
        for d in (self.stage, self.input):
            os.makedirs(d, exist_ok=True)


def write_files(layout: Layout, seed: int, numbers, due_s) -> list[str]:
    """Write order files into the staging directory; returns their names."""
    names = []
    for no, due in zip(numbers, due_s):
        name = f"{no:07d}.json"
        with open(os.path.join(layout.stage, name), "w") as f:
            f.write("\n".join(orders.file_lines(seed, no, ORDERS_PER_FILE, due)))
            f.write("\n")
        names.append(name)
    return names


def publish(layout: Layout, name: str) -> None:
    os.rename(os.path.join(layout.stage, name), os.path.join(layout.input, name))


def start_queries(spark, layout: Layout, sink_writes: list[tuple[int, float, float]]):
    """Start the ETL and the windowed statistics query; each ETL sink write
    appends its (batch id, start, end) ``perf_counter`` times to
    ``sink_writes``."""
    from flink_learning_practise_spark.plans.order_etl import (
        flatten_order_lines,
        parse_order_strings_with_rejects,
    )
    from flink_learning_practise_spark.sinks.streaming import file_sink
    from flink_learning_practise_spark.sources.streaming import file_stream_source
    from flink_learning_practise_spark.streaming.pipeline import windowed_stats

    def etl_batch(batch, batch_id):
        t0 = time.perf_counter()
        raw = batch.persist()
        parsed, rejects = parse_order_strings_with_rejects(raw)
        flatten_order_lines(parsed).write.mode("append").parquet(layout.sink)
        rejects.write.mode("append").parquet(layout.dlq)
        raw.unpersist()
        sink_writes.append((batch_id, t0, time.perf_counter()))

    def source():
        return file_stream_source(spark, layout.input, "value STRING", fmt="text",
                                  max_files_per_trigger=MAX_FILES_PER_TRIGGER)

    etl = (source().writeStream.foreachBatch(etl_batch)
           .option("checkpointLocation", layout.etl_ckpt)
           .queryName("order_etl").start())
    parsed, _rejects = parse_order_strings_with_rejects(source())
    stats = windowed_stats(flatten_order_lines(parsed), "order_ts", WINDOW,
                           ["ship_state"], _order_aggs(), watermark_delay=WATERMARK)
    win = file_sink(stats, layout.windows, layout.win_ckpt).queryName("order_windows").start()
    return etl, win


def _log_entries(path: str) -> list[tuple[str, list[str]]]:
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(path, name)) as f:
                out.append((name, f.read().splitlines()[1:]))
        except FileNotFoundError:
            continue  # compaction removed it between listdir and open
    return out


def source_batches(ckpt: str) -> dict[int, int]:
    """File-source batch id → the query's micro-batch id, from the offset
    log. They differ once the query has run a batch without new data (a
    stateful query does, to advance its watermark)."""
    offsets = sorted((int(name), json.loads(lines[1])["logOffset"])
                     for name, lines in _log_entries(os.path.join(ckpt, "offsets"))
                     if name.isdigit() and len(lines) > 1)
    out, prev = {}, -1
    for batch, offset in offsets:
        for source_batch in range(prev + 1, offset + 1):
            out[source_batch] = batch
        prev = max(prev, offset)
    return out


def file_batches(ckpt: str) -> dict[str, int]:
    """File name → micro-batch id, from the file source's metadata log,
    for the files of batches the query has planned."""
    batches = source_batches(ckpt)
    out = {}
    for _name, lines in _log_entries(os.path.join(ckpt, "sources", "0")):
        for line in lines:
            e = json.loads(line)
            if e["batchId"] in batches:
                out[os.path.basename(e["path"])] = batches[e["batchId"]]
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Batch id → wall time its commit-log entry was written."""
    d = os.path.join(ckpt, "commits")
    out = {}
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if name.isdigit():
            try:
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime
            except FileNotFoundError:
                continue
    return out


def batch_watermarks(ckpt: str) -> dict[int, int]:
    """Batch id → event-time watermark (ms) the batch ran with."""
    out = {}
    for name, lines in _log_entries(os.path.join(ckpt, "offsets")):
        if name.isdigit() and lines:
            out[int(name)] = json.loads(lines[0])["batchWatermarkMs"]
    return out


def last_sink_batch(path: str) -> int:
    """Id of the last batch a file sink committed to its manifest log. The
    query may be stopped after that commit and before the checkpoint's, so
    the checkpoint's commit log can lag one batch behind the output."""
    names = os.listdir(os.path.join(path, "_spark_metadata"))
    return max(int(n.split(".")[0]) for n in names if n.split(".")[0].isdigit())


def committed(ckpt: str) -> dict[str, float]:
    """File name → commit time, for files whose batch has committed."""
    commits = commit_times(ckpt)
    return {f: commits[b] for f, b in file_batches(ckpt).items() if b in commits}


def wait_drained(ckpts: list[str], names: list[str], timeout: float) -> float | None:
    """Wall time when the queries of these checkpoints had committed every
    file in ``names``, or None on timeout."""
    deadline = time.time() + timeout
    want = set(names)
    while time.time() < deadline:
        done = [committed(c) for c in ckpts]
        if all(want <= d.keys() for d in done):
            return max(max(d[n] for n in want) for d in done)
        time.sleep(0.05)
    return None


class OpenLoop(threading.Thread):
    """Publishes pre-written files on a fixed schedule, regardless of how
    fast the queries consume them; records how late each write ran."""

    def __init__(self, layout: Layout, names: list[str], t0: float) -> None:
        super().__init__(daemon=True)
        self.layout, self.names, self.t0 = layout, names, t0
        self.due = [t0 + i * INTERVAL for i in range(len(names))]
        self.late_s = [0.0] * len(names)
        self.published = 0

    def run(self) -> None:
        for i, name in enumerate(self.names):
            wait = self.due[i] - time.time()
            if wait > 0:
                time.sleep(wait)
            publish(self.layout, name)
            self.late_s[i] = time.time() - self.due[i]
            self.published = i + 1


def _stop(*queries) -> None:
    """Stop the queries at the same time; each stop waits for its
    query's running micro-batch to end."""
    def stop(q):
        try:
            q.stop()
        except Exception:  # noqa: BLE001 - a failed query has already stopped
            pass

    threads = [threading.Thread(target=stop, args=(q,)) for q in queries]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


class ProgressLog:
    """Raw progress of every trigger, recorded by a listener built on the
    package's ``monitoring.MetricsListener`` (tracing only)."""

    def __init__(self) -> None:
        from flink_learning_practise_spark.monitoring import MetricsListener

        log = self

        class _Listener(MetricsListener):
            def onQueryProgress(self, event) -> None:
                super().onQueryProgress(event)
                log.events.append(json.loads(event.progress.json))

        self.events: list[dict] = []
        self.listener = _Listener()

    def of(self, name: str) -> list[dict]:
        return [e for e in self.events if e.get("name") == name]


def wait_first_batch(queries, ckpts: list[str], timeout: float) -> float:
    """Wall time when every query had committed its micro-batch 0."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(f"stream {q.name} failed: {q.exception()}")
        commits = [commit_times(c) for c in ckpts]
        if all(0 in c for c in commits):
            return max(c[0] for c in commits)
        time.sleep(0.05)
    raise TimeoutError("the first micro-batch did not commit")


def _iso_s(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def measure(spark, ctx) -> dict:
    layout = Layout(os.path.join(ctx.run_dir, "stream"))
    step = BACKLOG_SPAN_S / BACKLOG_FILES
    first_due = -BACKLOG_SPAN_S - 60  # the warm-up files precede the backlog
    warm = write_files(layout, ctx.seed, range(WARMUP_FILES),
                       [first_due + (k - WARMUP_FILES) * step for k in range(WARMUP_FILES)])
    backlog = write_files(layout, ctx.seed, range(WARMUP_FILES, WARMUP_FILES + BACKLOG_FILES),
                          [first_due + k * step for k in range(BACKLOG_FILES)])
    first_open = WARMUP_FILES + BACKLOG_FILES
    n_open = max(1, int(ctx.seconds / INTERVAL))
    open_files = write_files(layout, ctx.seed, range(first_open, first_open + n_open),
                             [k * INTERVAL for k in range(n_open)])

    sink_writes: list[tuple[int, float, float]] = []
    progress = ProgressLog() if ctx.trace else None
    if progress is not None:
        spark.streams.addListener(progress.listener)
    store = spark.sparkContext._jsc.sc().statusStore()
    failed = 0
    for n in warm + backlog:
        publish(layout, n)
    etl, win = start_queries(spark, layout, sink_writes)
    try:
        # The first micro-batch of each query takes the oldest files (the
        # warm-up files) and compiles the code paths, untimed. The drain is
        # timed from the moment both queries have committed it.
        t0 = wait_first_batch([etl, win], [layout.etl_ckpt, layout.win_ckpt], DRAIN_TIMEOUT_S)
        jobs_before = {j.jobId() for j in _seq(store.jobsList(None))}
        harness.log("first micro-batch done")
        t_end = wait_drained([layout.etl_ckpt, layout.win_ckpt], backlog, DRAIN_TIMEOUT_S)
        if t_end is None:
            raise TimeoutError("backlog did not drain")
        drain_s = t_end - t0
        drained = sum(1 for b in file_batches(layout.etl_ckpt).values() if b > 0) * ORDERS_PER_FILE
        harness.log(f"{drained} orders drained in {drain_s:.2f}s")

        # Phase 2 starts at once: the windowed query's batch without data,
        # which follows the drain, overlaps its first seconds.
        gen = OpenLoop(layout, open_files, time.time() + 0.2)
        gen.start()
        backlog_samples = []  # files published but not yet committed by the ETL
        while gen.is_alive():
            time.sleep(0.25)
            done = committed(layout.etl_ckpt)
            backlog_samples.append(sum(1 for n in open_files[:gen.published] if n not in done))
        gen.join()
        # Only the ETL has to commit the last files: the check of the
        # windowed statistics covers the batches its sink committed.
        if wait_drained([layout.etl_ckpt], open_files, DRAIN_TIMEOUT_S) is None:
            failed += 1
        harness.log("open loop done")
    finally:
        _stop(etl, win)
        harness.log("queries stopped")
        if progress is not None:
            spark.streams.removeListener(progress.listener)

    stream_jobs = [j.jobId() for j in _seq(store.jobsList(None)) if j.jobId() not in jobs_before]
    done = committed(layout.etl_ckpt)
    latencies_ms = [(done[n] - due) * 1e3 for n, due in zip(open_files, gen.due) if n in done]
    failed += (len(open_files) - len(latencies_ms)) * ORDERS_PER_FILE
    half = len(backlog_samples) // 2
    first_half, second_half = _mean(backlog_samples[:half]), _mean(backlog_samples[half:])
    if second_half > 1.5 * first_half + 5:
        failed += n_open * ORDERS_PER_FILE
        print(f"order_stream: backlog grew through the open loop "
              f"({first_half:.1f} -> {second_half:.1f} files): rate not sustainable",
              flush=True)

    check = check_outputs(spark, layout)
    harness.log(f"checked: {check}")
    failed += check["mismatches"]
    n_orders = (len(warm) + len(backlog) + len(open_files)) * ORDERS_PER_FILE
    layers = {
        "stream.drain_rps": drained / drain_s,
        "stream.backlog_files": max(backlog_samples, default=0),
        "gen.late_ms_max": max(gen.late_s) * 1e3,
        "sink.rows_out": check["sink_rows"],
        "etl.parsed_frac": 1 - check["reject_rows"] / n_orders,
        "etl.reject_rows": check["reject_rows"],
    }
    if ctx.trace:
        layers.update(_progress_layers(progress))
        sink_writes = [(start, end) for batch, start, end in sink_writes if batch > 0]
        layers["sink.write_s"] = sum(end - start for start, end in sink_writes)
        layers["trace.wall_s"] = drain_s
        stats = ExecStats()
        stats.add_jobs(spark, stream_jobs)
        layers.update(stats.totals, task_skew=stats.skew)
        to_perf = time.perf_counter() - time.time()  # progress times are wall clock
        for e in progress.events:
            begin = _iso_s(e["timestamp"]) + to_perf
            ctx.tracer.spans.append({
                "name": "micro_batch", "query": e["name"], "batch": e["batchId"],
                "start": begin, "end": begin + e["durationMs"].get("triggerExecution", 0) / 1e3,
                "parent": None})
        ctx.tracer.spans += [{"name": "sink_write", "start": start, "end": end, "parent": None}
                             for start, end in sink_writes]
    shutil.rmtree(layout.base, ignore_errors=True)
    return {
        "attempted": n_orders,
        "failed": failed,
        "wall_s": drain_s,
        "latencies_ms": latencies_ms,
        "layers": layers,
    }


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _progress_layers(progress: ProgressLog) -> dict:
    # Micro-batch 0 is the untimed warm-up.
    etl = [e for e in progress.of("order_etl")
           if e.get("numInputRows", 0) > 0 and e["batchId"] > 0]
    win = [e for e in progress.of("order_windows") if e["batchId"] > 0]

    def dur(key):
        return _mean(e["durationMs"].get(key, 0) for e in etl)

    rows = sum(e["numInputRows"] for e in etl)
    busy = sum(e["durationMs"].get("triggerExecution", 0) for e in etl) / 1e3
    states = [s for e in win for s in e.get("stateOperators", [])]
    lag = 0.0
    for e in reversed(win):
        t = e.get("eventTime") or {}
        if "max" in t and "watermark" in t:
            lag = _iso_s(t["max"]) - _iso_s(t["watermark"])
            break
    return {
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.get_batch_ms": dur("getBatch"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.processed_rps": rows / busy if busy else 0.0,
        "stream.batches": len(etl),
        "stream.state_rows": max((s.get("numRowsTotal", 0) for s in states), default=0),
        "stream.state_mem_mb": max((s.get("memoryUsedBytes", 0) for s in states),
                                   default=0) / 2**20,
        "stream.watermark_lag_s": lag,
    }


def _digest(df):
    """(row count, order-independent sum of row hashes) in one job."""
    row = df.select(F.count(F.lit(1)),
                    F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()
    return row[0], row[1]


def check_outputs(spark, layout: Layout) -> dict:
    """Compare both sinks with a batch run of the same functions over the
    same files; tables are compared by row count and a sum of row hashes.
    The windowed statistics drop, per micro-batch, the rows whose window
    ended at or before the previous batch's watermark, and emit the
    windows that ended at or before the watermark of the last batch the
    window sink committed."""
    from flink_learning_practise_spark.plans.order_etl import (
        flatten_order_lines,
        parse_order_strings_with_rejects,
    )
    from flink_learning_practise_spark.streaming.pipeline import windowed_stats

    # The check's own jobs run on one shuffle partition per core; the
    # streams are stopped by now, so this changes no measured work.
    spark.conf.set("spark.sql.shuffle.partitions", str(harness.cpus()))
    raw = spark.read.text(layout.input).withColumn(
        "file", F.element_at(F.split(F.input_file_name(), "/"), -1)).persist()
    parsed, rejects = parse_order_strings_with_rejects(raw)
    lines = flatten_order_lines(parsed).persist()
    n_lines, lines_digest = _digest(lines)  # fills both caches
    sink = spark.read.parquet(layout.sink).select(*lines.columns)
    dlq = spark.read.parquet(layout.dlq)

    batches = file_batches(layout.win_ckpt)
    wms = batch_watermarks(layout.win_ckpt)
    last = last_sink_batch(layout.windows)
    file_wm = spark.createDataFrame(
        [(f, wms.get(b - 1, 0)) for f, b in batches.items()], "file string, late_ms long")
    ids = raw.select(F.get_json_object("value", "$.purchaseOrderId").alias("pid"), "file")
    kept = (lines.join(ids, lines.purchaseOrderId == ids.pid).join(file_wm, "file")
            .filter(F.window("order_ts", WINDOW)["end"] > F.timestamp_millis("late_ms"))
            .drop("pid", "file", "late_ms"))
    expect = windowed_stats(kept, "order_ts", WINDOW, ["ship_state"], _order_aggs(),
                            watermark_delay=WATERMARK)
    expect = expect.filter(F.col("window_end") <= F.timestamp_millis(F.lit(wms[last])))
    emitted = spark.read.parquet(layout.windows).select(*expect.columns)

    def reasons(df):
        return dict(df.groupBy("reject_reason").count().collect())

    # The remaining jobs are small and independent: run them side by side.
    with ThreadPoolExecutor(4) as pool:
        sink_digest, want, got, expect_digest, emitted_digest = pool.map(
            lambda job: job[0](job[1]),
            [(_digest, sink), (reasons, rejects), (reasons, dlq),
             (_digest, expect), (_digest, emitted)])
    mismatches = int((n_lines, lines_digest) != sink_digest)
    mismatches += sum(abs(want.get(k, 0) - got.get(k, 0)) for k in set(want) | set(got))
    win_mismatch = int(expect_digest != emitted_digest)
    if win_mismatch or mismatches:
        print(f"order_stream: {mismatches} sink/DLQ and {win_mismatch} window "
              "mismatches against the batch run", flush=True)
    raw.unpersist()
    lines.unpersist()
    return {"mismatches": mismatches + win_mismatch, "sink_rows": n_lines,
            "reject_rows": sum(got.values())}
