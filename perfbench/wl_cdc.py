"""``pos_cdc``: an open-loop POS event stream applied to the warehouse.

Inputs are generated in setup as JSON-lines files (``datagen.cdc_events``:
{sales, products, customers} x {add, edit, remove}, entity mix 6:3:1,
Zipf-skewed keys). The engine sees them only through the file source:

- warm-up (untimed, part of set-up):
  ``streaming.pipeline.start_pipeline(available_now=False)`` starts one
  query per entity into ``ParquetCdcSink`` tables, a generator thread
  releases one file every ``INTERVAL_S`` (by rename into the source
  directory) for ``WARMUP_S``, and the queries drain what it released, so
  the measured phase starts from warm, idle queries;
- live phase: the same queries, while the generator releases files at the
  same rate for ``--seconds`` — one fixed offered rate. A
  file's freshness runs from its *due* release time (so a late generator
  counts against the system) to the commit of the last of the three
  entity queries' micro-batches that applied it, attributed through each
  query's file-source log and commit log in its checkpoint;
- catch-up phase: a fixed backlog is released at once and drained with
  ``available_now=True`` on the same checkpoints — the reference's
  hourly tick; events per second counts generated events, never
  ``numInputRows`` (every entity query reads every file).

Outputs: the final warehouse must equal a pure-Python last-write-wins
replay of every released event (warm-up, live and backlog); every live
file must be committed by all three queries.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from datetime import datetime

import datagen
from outcome import Outcome
from stats import attribute_freshness, file_commit_times, max_backlog, replay_lww
from tracing import dir_bytes

#: catch-up drain capacity at this file size, measured on a 4-core x86 host
#: (5,000-5,900 events/s; README, "Offered load")
CATCHUP_EVENTS_PER_S = 5000
#: the live phase offers a fifth of it, so a host up to five times slower
#: still drains the stream and freshness measures the per-trigger cost, not
#: a growing queue; measured freshness is flat from 500 to 4,000 events/s
UTILIZATION = 0.2
#: well under one trigger's 1-2 s, so releases fall at every phase of the
#: trigger cycle and each measured second gives four freshness samples
INTERVAL_S = 0.25
EVENTS_PER_FILE = round(CATCHUP_EVENTS_PER_S * UTILIZATION * INTERVAL_S)  # 250: 1,000 events/s
BACKLOG_FILES = 80  # catch-up drain: 20,000 events
#: the first live micro-batches run 1-1.5 s slower than later ones
WARMUP_S = 3.0
RAW_SCHEMA = "topic string, value string, seq long"
PKS = {"sales": "sale_id", "products": "product_id", "customers": "customer_id"}


def _release(files: list[str], dst: str) -> None:
    for path in files:
        os.rename(path, os.path.join(dst, os.path.basename(path)))


def setup(ctx):
    from simple_pos_kafka_pyspark_airflow_spark.streaming import ingest, pipeline

    n_warm = int(WARMUP_S / INTERVAL_S)
    n_live = int(ctx.seconds / INTERVAL_S) + 1
    events = datagen.cdc_events(ctx.seed, (n_warm + n_live + BACKLOG_FILES) * EVENTS_PER_FILE)
    files = datagen.write_event_files(
        os.path.join(ctx.work, "staged"), events, EVENTS_PER_FILE, "ev")
    warm, live, backlog = files[:n_warm], files[n_warm:n_warm + n_live], files[n_warm + n_live:]

    src = os.path.join(ctx.work, "src")
    os.makedirs(src)
    raw = ingest.file_json_stream(ctx.spark, src, RAW_SCHEMA)
    sinks = pipeline.build_sinks(ctx.spark, os.path.join(ctx.work, "wh"))
    measuring = threading.Event()
    written = dict.fromkeys(sinks, 0)
    if ctx.trace:  # foreachBatch binds the sink's method when the query starts
        for name, sink in sinks.items():
            _instrument(ctx, name, sink, written, measuring)
    ckpt = os.path.join(ctx.work, "ckpt")
    queries = pipeline.start_pipeline(raw, sinks, ckpt, available_now=False)
    while any(q.lastProgress is None for q in queries):  # first (empty) trigger done
        time.sleep(0.05)
    gen = _Generator(warm, src, WARMUP_S)
    gen.start()
    gen.join()
    for q in queries:
        q.processAllAvailable()
    lo, hi = n_warm * EVENTS_PER_FILE, (n_warm + n_live) * EVENTS_PER_FILE
    return {"live": live, "backlog": backlog, "src": src, "raw": raw, "sinks": sinks,
            "ckpt": ckpt, "queries": queries, "measuring": measuring, "written": written,
            "warm_events": events[:lo], "live_events": events[lo:hi],
            "backlog_events": events[hi:]}


class _Generator(threading.Thread):
    """Releases one file per ``INTERVAL_S`` on a fixed schedule; records
    each file's due time and how late the rename actually ran."""

    def __init__(self, files, dst: str, seconds: float) -> None:
        super().__init__(name="perfbench-generator", daemon=True)
        self.files, self.dst, self.seconds = files, dst, seconds
        self.due: dict[str, float] = {}
        self.late: list[float] = []

    def run(self) -> None:
        t0 = time.time()
        for i, f in enumerate(self.files):
            due = t0 + i * INTERVAL_S
            if due - t0 >= self.seconds:
                break
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            _release([f], self.dst)
            self.late.append(time.time() - due)
            self.due[os.path.basename(f)] = due


def _applied(ckpt: str) -> dict[str, float]:
    """file name -> commit time of the batch that read it, for one query."""
    commits = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "[0-9]*")):
        commits[int(os.path.basename(p))] = os.stat(p).st_mtime_ns / 1e9
    entries = []
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "[0-9]*")):
        with open(p) as f:
            entries += [json.loads(line) for line in f if line.startswith("{")]
    return file_commit_times(entries, commits)


def _instrument(ctx, name: str, sink, written: dict[str, int], measuring) -> None:
    """Traced run only: once ``measuring`` is set, time each
    ``foreach_batch`` call and add the size of every snapshot it swaps in
    to ``written[name]``."""
    inner = sink.foreach_batch

    def call(events, batch_id):
        if not measuring.is_set():
            return inner(events, batch_id)
        before = _inode(sink.path)
        with ctx.tracer.span("streaming.cdc.sink", f"{name}-{batch_id}"):
            inner(events, batch_id)
        if _inode(sink.path) != before:
            written[name] += dir_bytes(sink.path)

    sink.foreach_batch = call


def _inode(path: str) -> int | None:
    try:
        return os.stat(path).st_ino
    except FileNotFoundError:
        return None


def _progress_since(queries, t0: float) -> list[dict]:
    """``recentProgress`` of the queries, for triggers that began at or
    after ``t0`` (epoch seconds)."""
    return [p for q in queries for p in q.recentProgress
            if datetime.fromisoformat(p["timestamp"]).timestamp() >= t0]


def measure(ctx, state) -> "CdcOutcome":
    from simple_pos_kafka_pyspark_airflow_spark.streaming import pipeline

    src, sinks, ckpt, queries = state["src"], state["sinks"], state["ckpt"], state["queries"]
    t_live = time.time()
    state["measuring"].set()
    gen = _Generator(state["live"], src, ctx.seconds)
    gen.start()
    gen.join()
    for q in queries:
        q.processAllAvailable()
    progress = _progress_since(queries, t_live)
    for q in queries:
        q.stop()
    applied = {name: _applied(os.path.join(ckpt, name)) for name in sinks}
    fresh, missing = attribute_freshness(gen.due, applied)

    backlog = state["backlog"]
    t0 = time.time()
    _release(backlog, src)
    drain = pipeline.start_pipeline(state["raw"], sinks, ckpt, available_now=True)
    for q in drain:
        q.awaitTermination()
    catchup_s = time.time() - t0
    progress += [p for q in drain for p in q.recentProgress]

    n_live = len(gen.due)
    n_backlog = len(backlog) * EVENTS_PER_FILE
    out = CdcOutcome([fresh[f] for f in sorted(fresh)], n_backlog, catchup_s,
                     attempted=n_live + len(backlog))
    live_events = state["live_events"][: n_live * EVENTS_PER_FILE]
    out.measured_events = len(live_events) + n_backlog
    out.released_events = state["warm_events"] + live_events + state["backlog_events"]
    out.sinks, out.progress, out.gen, out.written = sinks, progress, gen, state["written"]
    out.missing, out.fresh = missing, fresh
    out.notes.update(catchup_s=catchup_s, catchup_events=n_backlog, live_files=n_live,
                     generator_late_max_s=max(gen.late))
    return out


class CdcOutcome(Outcome):
    def check(self, ctx) -> None:
        if self.missing:
            self.fail(len(self.missing), f"{len(self.missing)} live files never committed")
        want = replay_lww(self.released_events, PKS)
        for name, sink in self.sinks.items():
            got = {r[PKS[name]]: r.asDict() for r in sink.read().collect()}
            bad = [k for k in set(got) | set(want[name]) if got.get(k) != want[name].get(k)]
            if bad:
                self.fail(len(bad), f"{name}: {len(bad)} keys differ from the replay")

    def layers(self, ctx) -> dict[str, float]:
        def dur(key: str) -> float:
            return sum(p["durationMs"].get(key, 0) for p in self.progress) / 1e3

        applied_at = {f: self.gen.due[f] + s for f, s in self.fresh.items()}
        return {
            "streaming.ingest.latest_offset_s": dur("latestOffset"),
            "streaming.pipeline.commit_s": dur("walCommit") + dur("commitOffsets"),
            "streaming.pipeline.batch_s": dur("triggerExecution"),
            "streaming.pipeline.batches": float(
                sum(1 for p in self.progress if p["numInputRows"] > 0)),
            "streaming.pipeline.backlog_files_max": float(max_backlog(self.gen.due, applied_at)),
            "streaming.pipeline.generator_late_max_s": max(self.gen.late),
            "streaming.cdc.sink_s": ctx.tracer.total("streaming.cdc.sink"),
            "streaming.cdc.bytes_written_per_event":
                sum(self.written.values()) / self.measured_events,
            "streaming.cdc.snapshot_bytes": float(sum(dir_bytes(s.path) for s in self.sinks.values())),
        }
