"""The three workloads and the loops that drive them.

Batch workloads run their registered queries one after another from one
client (a closed loop): a job is ``Query.fn`` plus its full execution into
the noop sink. The stream's generator is open-loop: it lands event slices on
a fixed schedule whatever the stream is doing, and each slice's latency is
timed from when it was due.
"""

from __future__ import annotations

import math
import os
import sys
import threading
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

import pyarrow.parquet as pq


@dataclass(frozen=True)
class Batch:
    queries: tuple[str, ...]
    tables: tuple[str, ...]  # the tables its queries read; their rows are the input size
    pass_s: float            # measured warm pass time on a 4-core host; sets passes per run


HIVE = Batch(
    queries=("wordcount", "grep", "order_by_limit", "join_multiway", "topk_users",
             "aggregate_pkg", "groupby2_shape", "union_all", "tpch_q3_shape", "tpch_q7_shape",
             "sql_qcorpus_joins", "window_distribution", "range_frame_window",
             "asof_join_events", "bloom_join_pruned", "sql_insert_overwrite_partition",
             "seqfile_roundtrip"),
    tables=("documents", "lineitem", "orders", "customer", "supplier", "nation", "region", "events"),
    pass_s=14.5,
)
LLM = Batch(
    queries=("dedup_components", "semantic_dedup", "training_data_pipeline"),
    tables=("documents", "embeddings", "customer"),
    pass_s=16.0,
)
BATCH = {"hive_sql_batch": HIVE, "llm_dedup_batch": LLM}

# hop_stream: offered load and shape. A micro-batch of this stream costs
# about 2-3 s on a 4-core host whatever its size: 25,600 events/s (8x RATE,
# 20 s live after the backlog) ran steady 2 s micro-batches with no backlog
# growth. RATE is far below that saturation point.
RATE = 3_200          # events per second
SLICE_S = 0.125       # one slice file lands every SLICE_S seconds
BACKLOG_S = 5.0       # event time pre-landed before the stream starts
WINDOW_S = 5          # tumbling event-time window
# The first micro-batches drain the backlog and what landed while it ran:
# latency and micro-batch samples start once SETTLE_BATCHES have committed,
# and the generator then lands --seconds more of slices. SETTLE_MAX_S bounds
# how long settling may take before the run counts as failed.
SETTLE_BATCHES = 2
SETTLE_MAX_S = 30.0
STREAM_SCHEMA = ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
                 "value DOUBLE, props STRING, slice_id BIGINT")


def passes(batch: Batch, seconds: int) -> int:
    """Whole passes per run, the nearest to --seconds on a 4-core host and at
    least one. The count depends only on --seconds, so every run does the
    same work and the sample mix never depends on how fast the host is."""
    return max(1, round(seconds / batch.pass_s))


def stream_shape(seconds: int) -> tuple[int, int, int]:
    """(rows per slice, backlog slices, most live slices a run may land)."""
    return int(RATE * SLICE_S), int(BACKLOG_S / SLICE_S), math.ceil((seconds + SETTLE_MAX_S) / SLICE_S)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- batch


def collect_pass(spark, queries, names, data_dir) -> dict[str, tuple]:
    """The warm-up pass: run every job once and keep its rows for the check.
    Returns name -> (rows, columns), or (None, error text) for a job that
    raised."""
    out = {}
    for name in names:
        try:
            df = queries[name].fn(spark, data_dir)
            out[name] = ([tuple(r) for r in df.collect()], df.columns)
        except Exception:  # a failing job is counted, the run goes on
            out[name] = (None, traceback.format_exc())
            log(f"warm-up {name} failed:\n{out[name][1]}")
    return out


def timed_passes(spark, queries, names, data_dir, n_passes, tracer=None, store=None) -> dict:
    """Closed loop over whole passes. With a tracer, each job gets its own
    job group and spans; with a store, its Spark work is read after it ends
    (outside its timed interval)."""
    span = tracer.span if tracer else (lambda *a, **k: nullcontext())
    jobs, pass_walls, failed = [], [], 0
    for p in range(n_passes):
        t_pass = time.perf_counter()
        for name in names:
            group = f"{name}#{p}"
            if tracer:
                spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            try:
                with span("job", job=name):
                    with span("plans.build"):
                        df = queries[name].fn(spark, data_dir)
                    with span("plans.execute"):
                        df.write.mode("overwrite").format("noop").save()
            except Exception:  # counted as failed; its latency is not a sample
                failed += 1
                log(f"job {name} failed:\n{traceback.format_exc()}")
                continue
            rec = {"job": name, "pass": p, "latency_s": time.perf_counter() - t0}
            if store:
                rec["work"] = store.group_work(group)
                rec["sql_executions"], ops = store.new_executions(rec["work"].pop("job_ids"))
                rec["top_operators"] = sorted(ops, key=lambda o: -o[1])[:3]
            jobs.append(rec)
        pass_walls.append(time.perf_counter() - t_pass)
    if tracer:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return {"jobs": jobs, "pass_walls": pass_walls, "failed": failed}


# ---------------------------------------------------------------- stream


class Landing:
    """A landing directory that slice files appear in atomically (written
    beside it, then renamed in), oldest first."""

    def __init__(self, root: str, slices):
        self.dir = os.path.join(root, "landing")
        self._tmp = os.path.join(root, "landing.tmp")
        os.makedirs(self.dir)
        os.makedirs(self._tmp)
        self.slices = slices
        self.landed_at: dict[int, float] = {}

    def land(self, k: int) -> None:
        name = f"slice-{k:06d}.parquet"
        pq.write_table(self.slices[k], os.path.join(self._tmp, name))
        os.rename(os.path.join(self._tmp, name), os.path.join(self.dir, name))
        self.landed_at[k] = time.perf_counter()


def _snapshot_summary(path: str) -> tuple[int, int]:
    """(events, newest slice) held by one committed snapshot."""
    t = pq.read_table(path, columns=["n", "max_slice"])
    return int(sum(t.column("n").to_pylist())), int(max(t.column("max_slice").to_pylist(), default=-1))


def _await_progress(query, listener, batch_id: int, timeout_s: float) -> str | None:
    """Wait until micro-batch ``batch_id`` has reported its progress to the
    query (and to the listener, if any). Its snapshot is written inside the
    batch, before the trigger commits and reports, so without this wait the
    last batch would be missing from the progress that is read next."""
    deadline = time.perf_counter() + timeout_s
    while time.perf_counter() < deadline:
        last = query.lastProgress
        if last is not None and last["batchId"] >= batch_id and (
                listener is None or any(p["batch"] >= batch_id for p in listener.progress)):
            return None
        time.sleep(0.02)
    return f"micro-batch {batch_id} did not report its progress in time"


def stream_phase(spark, root: str, slices, n_backlog: int, measure_s: float = 0.0, tracer=None,
                 listener=None, drain_timeout_s: float = 60.0) -> dict:
    """Land ``n_backlog`` slices and start the stream. With ``measure_s``,
    land live slices at the offered rate until ``measure_s`` seconds of them
    have been due after the stream settled. Then wait until a snapshot holds
    the last slice landed."""
    from pyspark.sql import functions as F

    from quatrain_mapreduce_spark.catalog import normalize_event_ts
    from quatrain_mapreduce_spark.sources import sinks
    from quatrain_mapreduce_spark.streaming import hop

    os.makedirs(root)
    landing = Landing(root, slices)
    snap_dir, ckpt = os.path.join(root, "snapshots"), os.path.join(root, "checkpoint")
    for k in range(n_backlog):
        landing.land(k)
    n_live = len(slices) - n_backlog if measure_s > 0 else 0
    cum_rows = [0]
    for t in slices:
        cum_rows.append(cum_rows[-1] + t.num_rows)

    commits: list[tuple[int, float]] = []

    def settled_at() -> float:
        return next((t for b, t in list(commits) if b == SETTLE_BATCHES - 1), math.inf)

    def write_snapshot(batch_df, batch_id: int) -> None:
        with (tracer.span("job", job=f"batch-{batch_id}") if tracer else nullcontext()):
            sinks.write_parquet(batch_df, os.path.join(snap_dir, f"batch-{batch_id:06d}"))
        commits.append((batch_id, time.perf_counter()))

    events = normalize_event_ts(spark.readStream.schema(STREAM_SCHEMA).parquet(landing.dir))
    agg = hop.tumbling_window_agg(
        events, "ts", ["event_type"],
        [F.count("*").alias("n"),
         F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
         F.max("slice_id").alias("max_slice")],
        window_duration=f"{WINDOW_S} seconds", watermark=f"{2 * WINDOW_S} seconds")

    stop = threading.Event()
    t0 = time.perf_counter()
    due = [t0 + j * SLICE_S for j in range(n_live)]

    def generate() -> None:
        for j in range(n_live):
            if stop.wait(max(0.0, due[j] - time.perf_counter())) or due[j] > settled_at() + measure_s:
                return
            landing.land(n_backlog + j)

    gen_thread = threading.Thread(target=generate, name="slice-generator")
    if listener:
        spark.streams.addListener(listener)
    gen_thread.start()
    query = (agg.writeStream.outputMode("complete").foreachBatch(write_snapshot)
             .option("checkpointLocation", ckpt).start())
    held: dict[int, tuple[int, int]] = {}   # batch id -> (events, newest slice)
    error = None
    try:
        deadline = None
        while True:
            for bid, _ in list(commits):
                if bid not in held:
                    held[bid] = _snapshot_summary(os.path.join(snap_dir, f"batch-{bid:06d}"))
            if not gen_thread.is_alive() and held and \
                    max(s for _, s in held.values()) >= len(landing.landed_at) - 1:
                break
            if query.exception() is not None:
                error = str(query.exception())
                break
            if not gen_thread.is_alive():
                deadline = deadline or time.perf_counter() + drain_timeout_s
                if time.perf_counter() > deadline:
                    error = "stream did not commit the last slice in time"
                    break
            time.sleep(0.02)
        if error is None:
            error = _await_progress(query, listener, max(held), drain_timeout_s)
    finally:
        stop.set()
        gen_thread.join(timeout=30)
        progress = query.recentProgress
        query.stop()
        if listener:
            spark.streams.removeListener(listener)
    commit_at = dict(commits)
    contains = {}  # batch id -> newest slice of the contiguous prefix it holds
    for bid, (n, newest) in held.items():
        k = newest
        while k >= 0 and cum_rows[k + 1] > n:
            k -= 1   # a gap in the prefix: credit only what is certainly held
        contains[bid] = k
    latency, backlog = [], []
    for bid in sorted(contains):
        tc = commit_at[bid]
        backlog.append(sum(1 for t in landing.landed_at.values() if t <= tc) - (contains[bid] + 1))
    settled = commit_at.get(SETTLE_BATCHES - 1, math.inf)
    for j in range(n_live):
        k = n_backlog + j
        done = [commit_at[b] for b, c in contains.items() if c >= k]
        if done and due[j] > settled:
            latency.append(min(done) - due[j])
    if n_live and not latency and error is None:
        error = f"the stream did not settle within {SETTLE_MAX_S:.0f} s of live slices"
    micro = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress
             if p["numInputRows"] > 0 and p["batchId"] >= SETTLE_BATCHES]
    final = max(held) if held else None
    return {
        "error": error,
        "first_result_s": min(commit_at.values()) - t0 if commits else None,
        "result_latency_s": latency, "micro_batch_s": micro,
        "landed": len(landing.landed_at), "rows": cum_rows[len(landing.landed_at)], "batches": len(commits),
        "drain_rows_per_s": next((p["numInputRows"] * 1000.0 / p["durationMs"]["triggerExecution"]
                                  for p in progress if p["batchId"] == 0), None),
        "backlog_files_max": max(backlog, default=0),
        "generator_late_s": max((landing.landed_at[n_backlog + j] - due[j] for j in range(n_live)
                                 if n_backlog + j in landing.landed_at), default=0.0),
        "final_snapshot": os.path.join(snap_dir, f"batch-{final:06d}") if final is not None else None,
    }
