"""The ``tag_stream`` workload: the paper's pipeline as a closed-loop
backlog drain.

A ``kinesis_emu`` stream with four shards and a per-shard admission cap
feeds ``story_pipeline`` into ``autotag_batch_sink``, which tags a
seeded keyed parquet store and dead-letters unknown ids. The query is
started on an empty stream with a one-second processing-time trigger;
once its first (empty) trigger has set the reader's base offsets, two
capped warm-up batches are appended and drained (set-up; after one, the
next batches still ran up to ~40% slow). The timed part
then keeps the stream one capped batch ahead of the query: it appends
one batch-sized chunk each time a batch completes, as long as the
batches fed so far are expected to end within ``--seconds`` (and until
at least ``MIN_TIMED_BATCHES`` are fed), and drains the rest.
Every completed batch but the first is one round: its wall time and
the machine's busy CPU are taken from the previous completion to its
own. The first timed batch only starts the clock: its start waits for
the next trigger.
The reader's first offer is uncapped, so appending before that first
trigger would turn the whole backlog into a single batch.
"""

from __future__ import annotations

import ast
import os
import statistics
import time
from collections import Counter
from datetime import datetime

import pyarrow.parquet as pq

import fixtures
import procstat
import tagmodel
from stats import percentile, ratio

SHARDS = 4
CAP = 25                # records per shard per micro-batch
STORE_DOCS = 2000
WARM_BATCHES = 2
MIN_TIMED_BATCHES = 5
# generated up front; feeding stops early if a run ever uses them all
MAX_TIMED_BATCHES = 60
TRIGGER = "1 second"
DRAIN_TIMEOUT_S = 150.0
# progress durationMs key -> per-layer metric name
STREAM_PHASES = {
    "latestOffset": "stream.latest_offset_ms.p50",
    "queryPlanning": "stream.query_planning_ms.p50",
    "addBatch": "stream.add_batch_ms.p50",
    "walCommit": "stream.wal_commit_ms.p50",
    "commitOffsets": "stream.commit_offsets_ms.p50",
}


def _offsets(raw) -> dict:
    """Progress offsets of the kinesis_emu reader are a Python dict repr."""
    if not raw:
        return {}
    return ast.literal_eval(raw) if isinstance(raw, str) else dict(raw)


def _start_time(p) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _end_time(p) -> float:
    return _start_time(p) + p["durationMs"]["triggerExecution"] / 1000.0


def _dir_files(path: str) -> dict[str, int]:
    """{name: bytes} of the parquet part files directly under ``path``."""
    try:
        return {
            e.name: e.stat().st_size
            for e in os.scandir(path)
            if e.name.startswith("part-") and e.is_file()
        }
    except OSError:
        return {}


class TagStream:
    def __init__(self, work: str, seed: int, trace: bool) -> None:
        self.work, self.seed, self.trace = work, seed, trace
        self.stream_dir = os.path.join(work, "stream")
        self.store_dir = os.path.join(work, "store")
        self.log = tagmodel.StreamLog()
        self.query = None
        self.layer: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------
    def generate(self) -> int:
        per_batch = SHARDS * CAP
        self.warm = fixtures.stream_records(
            WARM_BATCHES * per_batch, STORE_DOCS, self.seed, SHARDS
        )
        pool = fixtures.stream_records(
            MAX_TIMED_BATCHES * per_batch, STORE_DOCS, self.seed, SHARDS,
            first=len(self.warm),
        )
        # one chunk per capped batch: record i goes to shard i % SHARDS,
        # so each chunk holds exactly CAP records of every shard
        self.chunks = [pool[i:i + per_batch] for i in range(0, len(pool), per_batch)]
        self.fed = 0
        seed_store = fixtures.store_table(STORE_DOCS, self.seed)
        os.makedirs(self.store_dir)
        pq.write_table(seed_store, os.path.join(self.store_dir, "part-00000.parquet"))
        self.seed_rows = {
            r["_id"]: (r["tags"], r["seq"]) for r in seed_store.to_pylist()
        }
        for s in range(SHARDS):
            os.makedirs(os.path.join(self.stream_dir, tagmodel.shard_name(s)))
        return len(pool)

    def warm_up(self, spark) -> None:
        from arc_kinesis_tagging_spark.streaming.kinesis_source import (
            KinesisEmuDataSource,
        )
        from arc_kinesis_tagging_spark.streaming.pipeline import story_pipeline
        from arc_kinesis_tagging_spark.streaming.sinks import autotag_batch_sink

        spark.dataSource.register(KinesisEmuDataSource)
        records = (
            spark.readStream.format("kinesis_emu")
            .option("streamDir", self.stream_dir)
            .option("maxRecordsPerShardPerBatch", CAP)
            .load()
        )
        self.query = (
            story_pipeline(records)
            .writeStream.foreachBatch(autotag_batch_sink(spark, self.store_dir))
            .option("checkpointLocation", os.path.join(self.work, "checkpoint"))
            .trigger(processingTime=TRIGGER)
            .start()
        )
        deadline = time.time() + DRAIN_TIMEOUT_S
        t = time.perf_counter()
        while self.query.lastProgress is None:
            self._alive(deadline)
            time.sleep(0.05)
        first_trigger_s = time.perf_counter() - t
        self._append(self.warm)
        self._drain(deadline)
        last = self.query.lastProgress
        self.warm_batch_id = last["batchId"]
        self.setup_note = (f"first trigger {first_trigger_s:.2f}s, last warm-up batch "
                           f"{last['durationMs']['triggerExecution'] / 1000:.2f}s")

    # -- timed rounds ---------------------------------------------------
    def _append(self, records) -> None:
        from arc_kinesis_tagging_spark.streaming.kinesis_source import (
            write_kinesis_fixture,
        )

        write_kinesis_fixture(self.stream_dir, [(r.payload, r.shard) for r in records])
        self.log.append(records)

    def _alive(self, deadline: float) -> None:
        if self.query.exception() is not None:
            raise RuntimeError(f"stream failed: {self.query.exception()}")
        if time.time() > deadline:
            raise TimeoutError("stream did not drain in time")

    def _drain(self, deadline: float) -> None:
        want = self.log.totals()
        while True:
            lp = self.query.lastProgress
            end = _offsets(lp["sources"][0]["endOffset"]) if lp else {}
            if all(int(end.get(s, -1)) == n for s, n in want.items()):
                return
            self._alive(deadline)
            time.sleep(0.05)

    def measure(self, spark, seconds: float) -> dict:
        """Feed and drain capped batches for about ``seconds``. Returns
        the per-batch rounds and the timed figures."""
        tracker = spark.sparkContext.statusTracker()
        group = str(self.query.runId)
        jobs_before = set(tracker.getJobIdsForGroup(group)) if self.trace else set()
        written: dict[str, int] = {}

        def watch_store():
            for d in (self.store_dir, self.store_dir + ".deadletter"):
                for name, size in _dir_files(d).items():
                    written[os.path.join(d, name)] = size

        def feed():
            self._append(self.chunks[self.fed])
            self.fed += 1

        if self.trace:
            watch_store()
        seen_before = dict(written)
        deadline = time.time() + DRAIN_TIMEOUT_S
        t0 = time.perf_counter()
        mark = None
        rounds, latencies, last_id = [], [], self.warm_batch_id
        feed()
        feed()
        while True:
            lp = self.query.lastProgress
            if lp["batchId"] > last_id and lp["numInputRows"] > 0:
                last_id = lp["batchId"]
                now, cpu = time.perf_counter(), procstat.machine_busy_s()
                if mark is not None:
                    rounds.append((now - mark[0], cpu - mark[1]))
                mark = (now, cpu)
                latencies.append(lp["durationMs"]["triggerExecution"] / 1000.0)
                # chunks fed but not yet drained, one of them in flight;
                # feed one more if it is expected to end within `seconds`
                pending = self.fed - len(latencies)
                ends_s = now - t0 + (pending + 1) * statistics.median(latencies)
                if pending < 2 and self.fed < len(self.chunks) and (
                    self.fed < MIN_TIMED_BATCHES or ends_s <= seconds
                ):
                    feed()
            end = _offsets(lp["sources"][0]["endOffset"])
            if all(int(end.get(s, -1)) == n for s, n in self.log.totals().items()):
                break
            self._alive(deadline)
            if self.trace:
                watch_store()
            time.sleep(0.05)
        progress = [
            p for p in self.query.recentProgress
            if p["batchId"] > self.warm_batch_id and p["numInputRows"] > 0
        ]
        self.timed_progress = progress
        if self.trace:
            watch_store()
            new_jobs = sorted(set(tracker.getJobIdsForGroup(group)) - jobs_before)
            tasks = 0
            for j in new_jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    tasks += st.numCompletedTasks if st else 0
            n = len(progress)
            self.layer.update({
                "sinks.jobs_per_batch": ratio(len(new_jobs), n),
                "sinks.tasks_per_batch": ratio(tasks, n),
                "sources.store_bytes_written_per_batch": ratio(
                    sum(v for k, v in written.items()
                        if k not in seen_before and k.startswith(self.store_dir + os.sep)),
                    n,
                ),
            })
        return {
            "rounds": rounds,
            # drain time from the start of the first timed trigger, so the
            # wait for that trigger (up to one interval) is not counted
            "wall_s": _end_time(progress[-1]) - _start_time(progress[0]),
            "records": sum(len(c) for c in self.chunks[:self.fed]),
            "latencies_s": [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress],
            "attempted": len(progress),
            # the whole timed window, first batch included
            "window_rounds": len(progress),
        }

    # -- outside the timed region -----------------------------------------
    def check(self, spark, attempted: int, record: bool = False) -> tuple[int, list[str]]:
        """(failed micro-batches, failure notes). A wrong store or wrong
        dead letters fail every timed batch: the final state cannot be
        pinned on one of them."""
        batches = [
            self.log.batch(_offsets(p["sources"][0]["startOffset"]),
                           _offsets(p["sources"][0]["endOffset"]))
            for p in self.query.recentProgress if p["numInputRows"] > 0
        ]
        self.query.stop()
        want_store, want_dead, tagged, dead = tagmodel.expected_outputs(
            self.seed_rows, batches
        )
        got_store = {
            r["_id"]: (r["tags"], r["seq"])
            for r in pq.read_table(self.store_dir).to_pylist()
        }
        dl_dir = self.store_dir + ".deadletter"
        got_dead = Counter(
            (r["_id"], r["seq"])
            for r in (pq.read_table(dl_dir).to_pylist() if os.path.isdir(dl_dir) else [])
        )
        timed_rows = sum(p["numInputRows"] for p in self.timed_progress)
        store_bytes = sum(_dir_files(self.store_dir).values())
        timed_tagged = sum(
            1
            for p in self.timed_progress
            for k in tagmodel.batch_keys(
                self.log.batch(_offsets(p["sources"][0]["startOffset"]),
                               _offsets(p["sources"][0]["endOffset"]))
            )
            if k in self.seed_rows
        )
        written = self.layer.get("sources.store_bytes_written_per_batch", 0.0)
        self.layer.update({
            "kinesis_source.read_amplification": ratio(
                timed_rows, sum(len(c) for c in self.chunks[:self.fed])
            ),
            "sinks.tagged": float(tagged),
            "sinks.dead_lettered": float(sum(got_dead.values())),
            "sinks.tagged_share": ratio(tagged, tagged + sum(got_dead.values())),
            # store bytes rewritten per batch over the bytes of the rows
            # the batch actually changed
            "sources.write_amplification": ratio(
                written * len(self.timed_progress),
                timed_tagged * store_bytes / max(len(got_store), 1),
            ) if self.trace else 0.0,
        })
        for phase, key in STREAM_PHASES.items():
            self.layer[key] = percentile(
                [p["durationMs"].get(phase, 0) for p in self.timed_progress], 50
            )
        notes = []
        if got_store != want_store:
            bad = sorted(k for k in set(got_store) | set(want_store)
                         if got_store.get(k) != want_store.get(k))
            notes.append(f"store differs on {len(bad)} ids, e.g. {bad[:3]}")
        if got_dead != want_dead:
            notes.append(f"dead letters differ: got {sum(got_dead.values())} rows, "
                         f"want {dead}")
        return (attempted if notes else 0), notes

    def trace_layers(self, spark) -> None:
        """pipeline.decode_s and sinks.write_batch_s.p50 on one batch-sized
        slice of the stream, outside the timed region."""
        from arc_kinesis_tagging_spark.streaming.pipeline import story_pipeline
        from arc_kinesis_tagging_spark.streaming.sinks import autotag_batch_sink

        first = CAP * WARM_BATCHES
        records = (
            spark.read.format("kinesis_emu")
            .option("streamDir", self.stream_dir)
            .option("startSeq", first)
            .option("endSeq", first + CAP)
            .load()
        )
        t = time.perf_counter()
        batch = story_pipeline(records).localCheckpoint(eager=True)
        self.layer["pipeline.decode_s"] = time.perf_counter() - t
        write_batch = autotag_batch_sink(spark, self.store_dir)
        times = []
        for i in range(3):
            t = time.perf_counter()
            write_batch(batch, 1_000_000 + i)
            times.append(time.perf_counter() - t)
        self.layer["sinks.write_batch_s.p50"] = percentile(times, 50)
