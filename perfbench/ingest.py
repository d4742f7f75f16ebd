"""``ingest`` workload: transaction files through HYBRIDJOIN into the fact.

Set-up ends with a warm-up: a few small files through ``run_stream``
into a scratch fact, so the first measured batch is not the JVM's first
pass over the sink's code. Then one stream
(``run_stream(available_now=False)``) with a fixed
``max_files_per_trigger`` runs two phases:

- catch-up: a fixed backlog of files is in the feed when the stream
  starts (the feed was down; the reference's replay). Throughput is the
  rows committed per second while it drains.
- live: an open loop. A generator lands a file by atomic rename every
  ``LIVE_INTERVAL_S``. Each file's latency runs from its due time until
  its batch is visible in the fact dir (the batch marker rewritten with
  ``moved: true``).

Sizes. A catch-up batch reads 5,000 rows: the reference's stream buffer
depth and commit interval (``STREAM_BUFFER_SIZE = COMMIT_INTERVAL =
5000`` in its ``hybridjoin.py``), so one micro-batch commits what the
reference commits at once. The reference's transaction file is not
available, so nothing else has a reference figure: the backlog's length
(4 batches), the live file size (40 rows, small so that per-batch fixed
costs dominate) and the landing interval (enough samples for a p90 in
one run, at a rate the host sustains) were picked to fit the run budget.

A file is an op; it fails when it is never committed, or when its rows
in the fact disagree with the generator's ledger.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import time
from dataclasses import dataclass

import checks
import gen
import warehouse
from run import Result
from tracer import mean

CATCHUP_BATCH_ROWS = 5000  # the reference's STREAM_BUFFER_SIZE / COMMIT_INTERVAL
MAX_FILES_PER_TRIGGER = 50
BACKLOG_ROWS = CATCHUP_BATCH_ROWS // MAX_FILES_PER_TRIGGER
BACKLOG_BATCHES = 4
BACKLOG_FILES = BACKLOG_BATCHES * MAX_FILES_PER_TRIGGER
LIVE_ROWS = 40
LIVE_INTERVAL_S = 0.12
WARMUP_FILES = 2
DRAIN_TIMEOUT_S = 60.0
POLL_S = 0.02


@dataclass
class Inputs:
    work: str
    masters: gen.Masters
    feed: str
    landing: str
    warmup: str
    backlog: list[gen.FileLedger]
    live: list[tuple[str, gen.FileLedger]]


def generate(work: str, seed: int, seconds: float) -> Inputs:
    data = os.path.join(work, "data")
    masters = gen.write_masters(seed, os.path.join(data, "masters"))
    txg = gen.TransactionGenerator(seed, masters)
    feed, landing = os.path.join(data, "feed"), os.path.join(data, "landing")
    os.makedirs(feed)
    os.makedirs(landing)
    backlog = [txg.write(i, BACKLOG_ROWS, feed) for i in range(BACKLOG_FILES)]
    n_live = max(1, round(seconds / LIVE_INTERVAL_S))
    live = [txg.render(BACKLOG_FILES + i, LIVE_ROWS) for i in range(n_live)]
    warmup = os.path.join(data, "warmup")
    os.makedirs(warmup)
    for i in range(WARMUP_FILES):
        txg.write(BACKLOG_FILES + n_live + i, LIVE_ROWS, warmup)
    return Inputs(work, masters, feed, landing, warmup, backlog, live)


def visible_batches(out_dir: str) -> dict[int, float]:
    """batch id -> time its rows became visible (completed marker mtime)."""
    seen = {}
    for marker in glob.glob(os.path.join(out_dir, "_batch_*_committed")):
        try:
            with open(marker) as fh:
                manifest = json.load(fh)
            mtime = os.stat(marker).st_mtime
        except (OSError, ValueError):
            continue  # being replaced right now
        if manifest.get("moved"):
            seen[int(os.path.basename(marker).split("_")[2])] = mtime
    return seen


def batch_of_file(checkpoint: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's offset log."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


class Progress:
    """Benchmark-side StreamingQueryListener: keeps each progress event."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "start": dt.datetime.fromisoformat(
                        p.timestamp.replace("Z", "+00:00")).timestamp(),
                    "ms": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def run(inputs: Inputs, seconds: float, tracer, t0: float) -> Result:
    from pyspark.sql.readwriter import DataFrameWriter

    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.session import (
        get_spark,
    )
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.streaming import (
        fencing,
        hybrid_join as hj,
    )

    out_dir = os.path.join(inputs.work, "data", "fact")
    ckpt = os.path.join(inputs.work, "data", "checkpoint")
    progress = Progress() if tracer.enabled else None

    with tracer.span("setup", op="setup"):
        with tracer.span("spark.session"):
            spark = get_spark("perfbench-ingest")
            spark.sparkContext.setLogLevel("ERROR")
        dims_dir = os.path.join(inputs.work, "data", "dims")
        dims = warehouse.build_dims(spark, inputs.masters, dims_dir, tracer)
        with tracer.span("hybrid_join.warmup"):
            _warm_up(spark, inputs, dims, hj)
        if progress is not None:
            spark.streams.addListener(progress.listener)
        tracer.wrap(fencing, "acquire_writer", "fencing.acquire")
        tracer.wrap(hj, "assign_sales_ids", "hybrid_join.assign_ids")
        tracer.wrap(DataFrameWriter, "parquet", "hybrid_join.write")
        query = hj.run_stream(
            spark, inputs.feed, gen.TX_SCHEMA_DDL, dims["customer"], dims["product"],
            output_dir=out_dir, checkpoint_dir=ckpt,
            max_files_per_trigger=MAX_FILES_PER_TRIGGER, available_now=False,
        )
    setup_s = time.perf_counter() - t0
    started = time.time()

    # Catch-up: the backlog drains in a known number of batches.
    deadline = time.time() + DRAIN_TIMEOUT_S
    while len(visible_batches(out_dir)) < BACKLOG_BATCHES and time.time() < deadline:
        _check_alive(query)
        time.sleep(POLL_S)
    caught_up = visible_batches(out_dir)
    live_start = time.time()

    # Live: land one file every LIVE_INTERVAL_S, due times fixed up front.
    due0 = time.time() + LIVE_INTERVAL_S
    due = [due0 + i * LIVE_INTERVAL_S for i in range(len(inputs.live))]
    landed: list[float] = []

    for (text, ledger), when in zip(inputs.live, due):
        delay = when - time.time()
        if delay > 0:
            time.sleep(delay)
        gen.land(text, inputs.landing, inputs.feed, ledger.name)
        landed.append(time.time())

    # Drain: every landed file committed and visible, or the run's end.
    names = [ledger.name for _t, ledger in inputs.live]
    deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < deadline:
        _check_alive(query)
        owner = batch_of_file(ckpt)
        vis = visible_batches(out_dir)
        if all(owner.get(n) in vis for n in names):
            break
        time.sleep(POLL_S)
    query.stop()
    query.writer_token.release()
    tracer.restore()
    if progress is not None:
        spark.streams.removeListener(progress.listener)

    owner, vis = batch_of_file(ckpt), visible_batches(out_dir)
    ledgers = inputs.backlog + [led for _t, led in inputs.live]
    verdict = checks.check_ingest(out_dir, ledgers)
    failed_files = verdict.failed_files | {n for n in names if owner.get(n) not in vis}
    # A failed file misses every latency limit: it counts as having
    # waited the whole live phase and drain.
    window = time.time() - due[0]
    latencies = [
        window if n in failed_files else vis[owner[n]] - when
        for n, when in zip(names, due)
    ]
    backlog_done = max(vis[b] for b in caught_up) if caught_up else time.time()
    backlog_rows = sum(f.matched for f in inputs.backlog)

    result = Result(
        attempted=len(ledgers),
        failed=len(failed_files),
        latencies=latencies,
        throughput_per_s=backlog_rows / max(backlog_done - started, 1e-9),
        setup_s=setup_s,
        report={
            "backlog_batches": len(caught_up),
            "batches": len(vis),
            "check": verdict.summary,
            "backlog_files_max": backlog_files_max(landed, names, owner, vis),
            "generator_lag_s": max((l - d for l, d in zip(landed, due)), default=0.0),
            "latencies": [round(t, 4) for t in latencies],
        },
    )
    if tracer.enabled:
        result.layers = layers(
            spark, tracer, progress, inputs, dims, out_dir, owner, vis, landed, result, hj,
            query.runId, set(caught_up), live_start)
    return result


def _warm_up(spark, inputs, dims, hj) -> None:
    """A few small files through the same sink into a scratch fact, so the
    measured stream does not pay first-run code generation and JIT in
    its first batch. Counted in set-up time."""
    scratch = os.path.join(inputs.work, "data", "warmup_out")
    query = hj.run_stream(
        spark, inputs.warmup, gen.TX_SCHEMA_DDL, dims["customer"], dims["product"],
        output_dir=os.path.join(scratch, "fact"),
        checkpoint_dir=os.path.join(scratch, "checkpoint"),
        max_files_per_trigger=1, available_now=True,
    )
    query.awaitTermination()
    query.writer_token.release()


def _check_alive(query) -> None:
    if not query.isActive:
        raise RuntimeError(f"stream terminated: {query.exception()}")


def backlog_files_max(landed, names, owner, vis) -> int:
    """Most live files landed but not yet visible at any landing instant."""
    worst = 0
    for t in landed:
        pending = sum(
            1 for lt, n in zip(landed, names)
            if lt <= t and vis.get(owner.get(n), float("inf")) > t
        )
        worst = max(worst, pending)
    return worst


def layers(spark, tracer, progress, inputs, dims, out_dir, owner, vis, landed, result, hj,
           run_id, catchup, live_start):
    """The traced run's per-layer figures for the ingest path.

    Per-batch means are split by phase: ``catchup.*`` over the backlog
    batches (``catchup``), ``stream.*``, ``spark.*`` and the per-call
    ``hybrid_join.*`` times over the live batches. Sink layout and row
    counts cover the whole fact.
    """
    from tracer import SparkStores, spark_layer

    # plan: normalize_stream + enrich on a live-size batch, as a call.
    live_file = os.path.join(inputs.feed, inputs.live[0][1].name)
    raw = spark.read.schema(gen.TX_SCHEMA_DDL).option("header", True).csv(live_file)
    for _ in range(5):
        with tracer.span("hybrid_join.plan", op="plan"):
            hj.enrich(hj.normalize_stream(raw), dims["customer"], dims["product"])

    live = tracer.self_times(lambda s: s.start >= live_start)
    before_live = tracer.self_times(lambda s: s.start < live_start)
    events = sorted(progress.events, key=lambda e: e["batch"])
    events = [e for e in events if e["rows"] > 0]
    live_events = [e for e in events if e["batch"] not in catchup]
    catchup_events = [e for e in events if e["batch"] in catchup]
    commit, data_files, data_bytes = [], 0, 0
    for b, marker_mtime in vis.items():
        with open(os.path.join(out_dir, f"_batch_{b}_committed")) as fh:
            files = json.load(fh)["files"]
        mtimes = []
        for f in files:
            st = os.stat(os.path.join(out_dir, f))
            mtimes.append(st.st_mtime)
            data_files += 1
            data_bytes += st.st_size
        if b not in catchup:
            commit.append(marker_mtime - max(mtimes))
    rows_out = result.report["check"]["rows"]
    ledgers = inputs.backlog + [led for _t, led in inputs.live]
    start_of = {e["batch"]: e["start"] for e in live_events}
    names = [led.name for _t, led in inputs.live]
    waits = [start_of[owner[n]] - t for n, t in zip(names, landed) if owner.get(n) in start_of]

    def phase(evs, key):
        return mean(e["ms"].get(key, 0) / 1e3 for e in evs)

    out = {
        "hybrid_join.plan_s": mean(live.get("hybrid_join.plan", [])),
        "hybrid_join.assign_ids_s": mean(live.get("hybrid_join.assign_ids", [])),
        "hybrid_join.write_s": mean(live.get("hybrid_join.write", [])),
        "hybrid_join.commit_s": mean(commit),
        "hybrid_join.rows_in": sum(f.rows for f in ledgers),
        "hybrid_join.rows_out": rows_out,
        "hybrid_join.match_ratio": rows_out / max(sum(f.valid for f in ledgers), 1),
        "hybrid_join.files_per_batch": data_files / max(len(vis), 1),
        "hybrid_join.bytes_per_row": data_bytes / max(rows_out, 1),
        "fencing.acquire_s": mean(before_live.get("fencing.acquire", [])),
        "stream.batches": len(live_events),
        "stream.rows_per_batch": mean(e["rows"] for e in live_events),
        "stream.trigger_s": phase(live_events, "triggerExecution"),
        "stream.add_batch_s": phase(live_events, "addBatch"),
        "stream.query_planning_s": phase(live_events, "queryPlanning"),
        "stream.get_batch_s": phase(live_events, "getBatch"),
        "stream.latest_offset_s": phase(live_events, "latestOffset"),
        "stream.wal_commit_s": phase(live_events, "walCommit"),
        "stream.commit_offsets_s": phase(live_events, "commitOffsets"),
        "stream.wait_s": mean(waits),
        "stream.backlog_files_max": result.report["backlog_files_max"],
        "stream.generator_lag_s": result.report["generator_lag_s"],
        "spark.session_s": mean(before_live.get("spark.session", [])),
        "etl.customer_dim_s": mean(before_live.get("etl.customer_dim", [])),
        "etl.product_dim_s": mean(before_live.get("etl.product_dim", [])),
        "etl.date_dim_s": mean(before_live.get("etl.date_dim", [])),
        "catchup.batches": len(catchup_events),
        "catchup.rows_per_batch": mean(e["rows"] for e in catchup_events),
        "catchup.trigger_s": phase(catchup_events, "triggerExecution"),
        "catchup.add_batch_s": phase(catchup_events, "addBatch"),
        "catchup.assign_ids_s": mean(before_live.get("hybrid_join.assign_ids", [])),
        "catchup.write_s": mean(before_live.get("hybrid_join.write", [])),
    }

    def ops_of(evs):
        return {
            str(e["batch"]): (e["start"], e["start"] + e["ms"].get("triggerExecution", 0) / 1e3)
            for e in evs
        }

    def op_of_job(job):
        # A streaming job's description names its query run and batch:
        # "...runId = <uuid>\nbatch = <n>". Jobs of other queries (the
        # warm-up stream) carry another runId.
        d = job["description"]
        if f"runId = {run_id}" not in d or "batch = " not in d:
            return None
        return d[d.index("batch = ") + len("batch = "):].split()[0]

    stores = SparkStores(spark)
    out.update(spark_layer(stores, ops_of(live_events), op_of_job))
    catchup_spark = spark_layer(stores, ops_of(catchup_events), op_of_job)
    for name in ("executor_run_s", "executor_cpu_s", "shuffle_write_bytes"):
        out[f"catchup.{name}"] = catchup_spark[f"spark.{name}"]
    return out
