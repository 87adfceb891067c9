"""stream_replay: availableNow replays of a backlog that has already landed.

Each round replays two backlogs, each one file per trigger:

- documents: the sf0.1 documents cut into ``DOC_FILES`` files in a
  seeded order, through ``streaming.ingest.incremental_dedup_stream``
  against the fingerprints of the even doc_ids;
- events: the sf0.1 events cut into ``EVENT_FILES`` files in event
  time order with seeded jitter below the 10-minute watermark, through
  ``streaming.events.windowed_counts`` into
  ``stream_to_partitioned_parquet``.

The tables are copies of the sf0.1 test tables, kept in
``perfbench/data/sf0.1``.

Closed loop, one client: round 0 is the cold round (``cold_s``; it pays
each streaming path's codegen, class loading and first JIT tiers), then
warm rounds repeat until the run's seconds are used (at least
``MIN_ROUNDS``; their median is ``warm_s``). Per-trigger durations come
from a StreamingQueryListener.
The catalog's batch twin of the window aggregation,
``q60_tumbling_window_counts``, is checked in every run and timed in
traced runs: it is where this workload reaches the ``plans`` layer.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from harness import exchanges, noop, timed

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

EVENT_FILES = 12
DOC_FILES = 4
MIN_ROUNDS = 3
WATERMARK_S = 600
WINDOW_S = 300
TWIN = "q60_tumbling_window_counts"
TWIN_WARM = 3


def _listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Collects every progress report per query. Events arrive on the
        listener thread; ``reports`` waits for a query's termination
        event, which is posted after its last progress report."""

        def __init__(self):
            self.cond = threading.Condition()
            self.started: list[str] = []
            self.progress: dict[str, list] = defaultdict(list)
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):
            with self.cond:
                self.started.append(str(event.id))
                self.cond.notify_all()

        def onQueryProgress(self, event):
            with self.cond:
                self.progress[str(event.progress.id)].append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.cond:
                self.terminated.add(str(event.id))
                self.cond.notify_all()

        def reports(self, index: int, timeout: float = 60.0) -> list:
            """Progress reports of the ``index``-th query started."""
            with self.cond:
                if not self.cond.wait_for(
                        lambda: len(self.started) > index
                        and self.started[index] in self.terminated, timeout):
                    raise TimeoutError(f"no termination event for query {index}")
                return list(self.progress[self.started[index]])

    return Progress


@dataclass
class Replay:
    seconds: float
    reports: list  # StreamingQueryProgress, one per trigger
    sink: str


def replay(spark, listener, stream, sink: str, ckpt: str, partition: str) -> Replay:
    """Run one availableNow replay to completion. The previous replay's
    events have all arrived, so this query is the next one the listener
    sees start."""
    from geospatial_etl_pipeline_spark.streaming.events import stream_to_partitioned_parquet

    index = len(listener.started)
    t0 = time.perf_counter()
    stream_to_partitioned_parquet(stream, sink, [partition], ckpt)
    elapsed = time.perf_counter() - t0
    return Replay(elapsed, listener.reports(index), sink)


def run(bench, tracer, session_setup_s: float) -> None:
    from geospatial_etl_pipeline_spark.sources.tables import normalize_event_ts
    from geospatial_etl_pipeline_spark.streaming.events import windowed_counts
    from geospatial_etl_pipeline_spark.streaming.ingest import (
        corpus_fingerprints, incremental_dedup_stream)

    spark = bench.spark
    gen_times = []
    for i in range(2):
        with timed(gen_times):
            backlog = os.path.join(bench.work, f"backlog{i}")
            gen.cut_event_replay(os.path.join(DATA, "events.parquet"),
                                 os.path.join(backlog, "events_in"), bench.seed, EVENT_FILES)
            gen.cut_document_replay(os.path.join(DATA, "documents.parquet"),
                                    os.path.join(backlog, "docs_in"), bench.seed, DOC_FILES)

    def source(name):
        path = os.path.join(backlog, name)
        return (spark.readStream.format("parquet")
                .schema(spark.read.parquet(path).schema)
                .option("maxFilesPerTrigger", 1).load(path))

    def one_round(tag) -> tuple[Replay, Replay]:
        with tracer.span("streaming.ingest.replay", round=tag):
            dc = replay(spark, listener, incremental_dedup_stream(source("docs_in"), corpus),
                        os.path.join(bench.work, f"doc_sink_{tag}"),
                        os.path.join(bench.work, f"doc_ckpt_{tag}"), "lang")
        with tracer.span("streaming.events.replay", round=tag):
            ev = replay(spark, listener, windowed_counts(normalize_event_ts(source("events_in"))),
                        os.path.join(bench.work, f"ev_sink_{tag}"),
                        os.path.join(bench.work, f"ev_ckpt_{tag}"), "event_type")
        return ev, dc

    setup = []
    with timed(setup):
        docs = spark.read.parquet(os.path.join(DATA, "documents.parquet"))
        corpus = corpus_fingerprints(docs.filter("doc_id % 2 = 0")).cache()
        corpus.count()
        listener = _listener_class()()
        spark.streams.addListener(listener)
    bench.metric_unless_traced(
        "setup_s", session_setup_s + setup[0] + statistics.median(gen_times), "s")

    # a traced run needs one warm round for the per-layer medians
    min_rounds = 1 if bench.trace else MIN_ROUNDS
    t_start = time.perf_counter()
    cold = one_round("cold")
    rounds = []
    while len(rounds) < min_rounds or time.perf_counter() - t_start < bench.seconds:
        rounds.append(one_round(len(rounds)))

    def round_s(r):
        return r[0].seconds + r[1].seconds

    bench.samples.update(round_s=[round_s(cold)] + [round_s(r) for r in rounds],
                         events_replay_s=[ev.seconds for ev, _ in rounds],
                         ingest_replay_s=[dc.seconds for _, dc in rounds])
    if bench.trace:
        layer_metrics(bench, rounds, spark)
        twin_metrics(bench, tracer)
    else:
        bench.metric("cold_s", round_s(cold), "s")
        bench.metric("warm_s", statistics.median(round_s(r) for r in rounds), "s")

    spark.streams.removeListener(listener)
    verify(bench, spark, corpus, [cold] + rounds)


def _mean_ms(reports, key):
    return statistics.fmean(p.durationMs.get(key, 0) for p in reports)


def _late_rows(reports) -> int:
    return sum(s.numRowsDroppedByWatermark for p in reports for s in p.stateOperators)


def layer_metrics(bench, rounds, spark) -> None:
    n_events = pq.read_metadata(os.path.join(DATA, "events.parquet")).num_rows
    n_docs = pq.read_metadata(os.path.join(DATA, "documents.parquet")).num_rows
    ev = [p for r, _ in rounds for p in r.reports]
    dc = [p for _, r in rounds for p in r.reports]
    trig = statistics.quantiles([p.durationMs.get("triggerExecution", 0) for p in ev], n=4)
    m = bench.metric
    m("streaming.events.rows_per_s", statistics.median(n_events / r.seconds for r, _ in rounds),
      "1/s")
    m("streaming.events.trigger_p50_ms", trig[1], "ms")
    m("streaming.events.trigger_p75_ms", trig[2], "ms")
    m("streaming.events.batches", statistics.median(len(r.reports) for r, _ in rounds), "count")
    m("streaming.events.add_batch_ms", _mean_ms(ev, "addBatch"), "ms")
    m("streaming.events.wal_ms", _mean_ms(ev, "walCommit"), "ms")
    m("streaming.events.planning_ms", _mean_ms(ev, "queryPlanning"), "ms")
    m("streaming.events.state_commit_ms",
      statistics.fmean(sum(s.commitTimeMs for s in p.stateOperators) for p in ev), "ms")
    m("streaming.events.state_rows",
      max(sum(s.numRowsTotal for s in p.stateOperators) for p in ev), "count")
    m("streaming.events.late_rows", _late_rows(ev), "count")
    m("streaming.ingest.docs_per_s", statistics.median(n_docs / r.seconds for _, r in rounds),
      "1/s")
    m("streaming.ingest.batches", statistics.median(len(r.reports) for _, r in rounds), "count")
    m("streaming.ingest.add_batch_ms", _mean_ms(dc, "addBatch"), "ms")
    landed = spark.read.parquet(rounds[-1][1].sink).count()
    m("streaming.ingest.landed_ratio", landed / n_docs, "ratio")


def twin_metrics(bench, tracer) -> None:
    """The batch twin through the noop sink: one cold and ``TWIN_WARM``
    warm executions, each in a span the event log attributes."""
    from geospatial_etl_pipeline_spark.plans import catalog

    catalog.load_all_plans()
    fn = catalog.QUERIES[TWIN].fn
    spans = []
    for phase in ["cold"] + ["warm"] * TWIN_WARM:
        with tracer.span(f"plans.{TWIN}", phase=phase) as sp:
            noop(fn(bench.spark, DATA))
        spans.append(sp)
    warm = spans[1:]
    bench.metric(f"plans.{TWIN}.cold_s", tracer.duration(spans[0]), "s")
    bench.metric(f"plans.{TWIN}.warm_s", statistics.median(tracer.duration(s) for s in warm), "s")
    bench.metric(f"plans.{TWIN}.exchanges", exchanges(fn(bench.spark, DATA)), "count")

    def from_event_log(by_span):
        per = [by_span.get(s["id"], {"task_s": 0.0, "shuffle_bytes": 0}) for s in warm]
        bench.metric(f"plans.{TWIN}.task_s", statistics.median(p["task_s"] for p in per), "s")
        bench.metric(f"plans.{TWIN}.shuffle_bytes",
                     statistics.median(p["shuffle_bytes"] for p in per), "bytes")

    bench.after_stop = from_event_log


# ---- output checks ----------------------------------------------------------

def expected_windows(events_path: str) -> tuple[set, int]:
    """Batch windowed counts (pandas, exact cents) as (start, event_type,
    n, cents) keys, and the watermark the replay ends with: a window is
    emitted once its end <= max(ts) - watermark delay."""
    table = pq.read_table(events_path, columns=["ts", "event_type", "value"])
    ts_s = table.column("ts").cast(pa.int64()).to_numpy() // 10**6
    cents = np.round(table.column("value").to_numpy() * 100).astype(np.int64)
    g = pd.DataFrame({"start": ts_s - ts_s % WINDOW_S,
                      "event_type": table.column("event_type").to_pandas(), "cents": cents}) \
        .groupby(["start", "event_type"], as_index=False).agg(n=("cents", "size"), cents=("cents", "sum"))
    keys = set(zip(g["start"], g["event_type"], g["n"], g["cents"]))
    return keys, int(ts_s.max()) - WATERMARK_S


def window_keys(df) -> list:
    from pyspark.sql import functions as F

    rows = df.select(F.unix_seconds("window_start").alias("start"), "event_type", "n_events",
                     F.round(F.col("sum_value") * 100).cast("long").alias("cents")).collect()
    return [(r.start, r.event_type, r.n_events, r.cents) for r in rows]


def sink_window_keys(path: str) -> list:
    """``window_keys`` of a partitioned-parquet sink, read with pyarrow
    (files under ``_spark_metadata`` are skipped by their prefix)."""
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    starts = t.column("window_start").cast(pa.timestamp("s")).cast(pa.int64()).to_pylist()
    cents = np.round(t.column("sum_value").to_numpy() * 100).astype(np.int64).tolist()
    return list(zip(starts, t.column("event_type").to_pylist(),
                    t.column("n_events").to_pylist(), cents))


def verify(bench, spark, corpus, rounds) -> None:
    """Untimed. The batch twin equals the pandas windowed counts; each
    events sink equals them for the windows the final watermark closes,
    with no late rows; the landed docs equal the batch anti-join."""
    from geospatial_etl_pipeline_spark.plans import catalog
    from geospatial_etl_pipeline_spark.streaming.ingest import fingerprinted

    all_windows, watermark = expected_windows(os.path.join(DATA, "events.parquet"))
    want = {w for w in all_windows if w[0] + WINDOW_S <= watermark}
    catalog.load_all_plans()
    twin = window_keys(catalog.QUERIES[TWIN].fn(spark, DATA))
    bench.attempted += 1
    bench.failed += not bench.check(
        len(twin) == len(all_windows) and set(twin) == all_windows,
        f"{TWIN}: {len(set(twin) ^ all_windows)} windows differ from the pandas counts")

    docs = spark.read.parquet(os.path.join(DATA, "documents.parquet"))
    fresh = fingerprinted(docs).select("doc_id", "fp").join(corpus, "fp", "left_anti")
    valid_pairs = {(r.doc_id, r.fp) for r in fresh.collect()}
    want_fps = {fp for _, fp in valid_pairs}

    for k, (ev, dc) in enumerate(rounds):
        bench.attempted += 2
        keys = sink_window_keys(ev.sink)
        ok = bench.check(len(keys) == len(set(keys)) and set(keys) == want,
                         f"round {k}: events sink has {len(keys)} rows, "
                         f"{len(set(keys) ^ want)} differ from {len(want)} expected")
        ok &= bench.check(_late_rows(ev.reports) == 0, f"round {k}: late rows dropped")
        bench.failed += not ok
        landed = [(r.doc_id, r.fp) for r in
                  spark.read.parquet(dc.sink).select("doc_id", "fp").collect()]
        fps = [fp for _, fp in landed]
        ok = bench.check(len(fps) == len(set(fps)) and set(fps) == want_fps
                         and set(landed) <= valid_pairs,
                         f"round {k}: {len(landed)} landed docs, {len(want_fps)} expected")
        bench.failed += not ok
