"""A real custom streaming connector with Kinesis semantics, built on
Spark 4's Python Data Source API (SPARK-44076).

The file-source emulator (source.py) proves the pipeline; THIS module
proves the connector shape: a ``DataSourceStreamReader`` whose offsets
are per-shard sequence numbers, whose ``partitions()`` turns a batch's
per-shard ``[start, end)`` ranges into read tasks (the reference's
shard-parallel consume loop, app.py:16-24/89-96, as genuine Spark
tasks), and whose options mirror the reference's configuration
surface:

- ``streamDir``     — the "stream": a directory of shard subdirs
                      (``shardId-*/``) holding sequence-keyed chunks
- ``startingPosition`` — TRIM_HORIZON (default) or LATEST. LATEST
                      reproduces the reference's start-at-now behavior
                      (app.py:18) — with checkpointed offsets it no
                      longer loses data on RESTART, only records that
                      arrived before first start, by definition
- ``maxRecordsPerShardPerBatch`` — admission control; the analog of
                      the reference's GetRecords Limit=20 (app.py:22-24)

Read tasks are packed by record count (``pack_ranges``): a batch of
``n`` records over ``k`` shard ranges runs as ``min(k, ceil(n /
RECORDS_PER_TASK))`` tasks, largest range first into the emptiest
task. Every task starts one Python worker session per Python operator
(this scan, then the pipeline's UDFs), and that session has a fixed
CPU cost however few records it sees. Small micro-batches — the
reference polls 20 records per shard — therefore run as one task, and
a batch with at least ``RECORDS_PER_TASK`` records per shard keeps one
task per shard. Packing depends only on the offsets, so a replayed
batch re-delivers the same rows in the same per-task order.

A production AWS build subclasses ``KinesisEmuStreamReader`` and
overrides the three storage touchpoints — ``read()`` (GetRecords,
utility/aws.py:47-65), ``_shard_end_seq`` (GetShardIterator at
LATEST), ``_shard_dirs`` (ListShards) — and leaves everything else
untouched: offsets, partitioning, recovery and the pipeline contract
are already exactly Kinesis-shaped here.

Storage layout written by ``write_kinesis_fixture``:

    <streamDir>/shardId-000000000000/chunk-<firstseq>.parquet
    <streamDir>/shardId-000000000001/chunk-<firstseq>.parquet

Each chunk holds (data binary, seq long) rows sorted by seq; chunk
files are immutable and append-only per shard, so ``latestOffset`` is
a directory listing (shard discovery, R3) plus a footer read.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

SCHEMA_DDL = "data binary, shard_id string, seq bigint"


def write_kinesis_fixture(stream_dir: str, records) -> int:
    """Append (payload_bytes, shard:int) records to the stream dir as
    one new chunk per shard. Sequence numbers continue from the last
    chunk (monotone per shard, like Kinesis sequence numbers)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    by_shard: dict[str, list[bytes]] = {}
    for payload, shard in records:
        by_shard.setdefault(f"shardId-{shard:012d}", []).append(payload)
    n = 0
    for shard_id, payloads in by_shard.items():
        d = os.path.join(stream_dir, shard_id)
        os.makedirs(d, exist_ok=True)
        _publish_chunk(d, payloads, _shard_end_seq(d))
        n += len(payloads)
    return n


def _payloads_digest(payloads) -> str:
    """Length-framed md5 over a shard's ordered payload bytes —
    recorded in the exactly-once intent so a replayed epoch that
    delivers the same COUNT but different content is rejected instead
    of silently published under the recorded seq ranges. Length
    framing (8-byte big-endian prefix per payload) keeps concatenation
    unambiguous: [b"ab", b"c"] and [b"a", b"bc"] digest differently."""
    import hashlib

    h = hashlib.md5()
    for p in payloads:
        if isinstance(p, bytes):
            b = p
        elif hasattr(p, "as_py"):  # pyarrow binary scalar
            b = p.as_py()
        else:
            b = bytes(p)
        h.update(len(b).to_bytes(8, "big"))
        h.update(b)
    return h.hexdigest()


def _publish_chunk(shard_dir: str, payloads, start: int) -> None:
    """Atomically publish one chunk of ``payloads`` at sequence
    ``start``. Write-then-rename: a concurrently polling reader lists
    the directory from another process, and pq.write_table is not
    atomic — a half-written footer would crash _shard_end_seq
    mid-poll. The dotfile is invisible to the chunk listing
    (startswith("chunk-")) and the rename is atomic on POSIX."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if isinstance(payloads, (pa.Array, pa.ChunkedArray)):
        data = payloads.cast(pa.binary())
    else:
        data = pa.array(
            [bytes(p) if not isinstance(p, bytes) else p for p in payloads],
            pa.binary(),
        )
    seqs = pa.array(range(start, start + len(data)), pa.int64())
    table = pa.table({"data": data, "seq": seqs})
    final = os.path.join(shard_dir, f"chunk-{start:020d}.parquet")
    tmp = os.path.join(shard_dir, f".chunk-{start:020d}.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, final)


def _shard_dirs(stream_dir: str) -> list[str]:
    if not os.path.isdir(stream_dir):
        return []
    return sorted(
        e for e in os.listdir(stream_dir)
        if e.startswith("shardId-") and os.path.isdir(os.path.join(stream_dir, e))
    )


def _shard_end_seq(shard_dir: str) -> int:
    """One past the last sequence number present in the shard."""
    import pyarrow.parquet as pq

    chunks = sorted(f for f in os.listdir(shard_dir) if f.startswith("chunk-"))
    if not chunks:
        return 0
    last = os.path.join(shard_dir, chunks[-1])
    md = pq.read_metadata(last)
    first = int(chunks[-1][len("chunk-"):].split(".")[0])
    return first + md.num_rows


@dataclass(frozen=True)
class ShardRange:
    """The records ``[start, end)`` of one shard."""

    shard_dir: str
    shard_id: str
    start: int
    end: int


@dataclass
class ShardRanges(InputPartition):
    """One read task: its shard ranges in shard-id order."""

    ranges: tuple[ShardRange, ...]


# Records a read task must hold to be worth its fixed cost: the fixed
# cost of a task divided by the cost of a record. Measured with
# story_pipeline over the batch reader on a 4-core host:
# - fixed: every task opens one Python worker session per Python
#   operator (this scan, then the gunzip UDF), and each session spends
#   ~0.15-0.3 s of CPU in worker_util.setup_spark_files ->
#   importlib.invalidate_caches however few records it gets (100
#   records as 4 tasks instead of 1 cost 0.9-2.0 s more CPU);
# - per record: ~65 us (one task, 100 -> 10k records: 0.66 -> 1.30 s).
# 0.2 s / 65 us ~ 3k records. A smaller task spends more on its
# sessions than on its records, so its records join another task. On
# the same host one task is still faster than four up to ~5k records,
# so packing to ~3k records per task does not trade the CPU saving
# for a slower batch.
RECORDS_PER_TASK = 3_000


def pack_ranges(ranges: list[ShardRange]) -> list[ShardRanges]:
    """Bin-pack shard ranges into ``min(len(ranges), ceil(total /
    RECORDS_PER_TASK))`` read tasks: largest range first into the
    emptiest task (ties: lower shard id, lower task index). A pure
    function of the ranges, so a replayed batch gets the same tasks in
    the same order."""
    ranges = [r for r in ranges if r.end > r.start]
    if not ranges:
        return []
    total = sum(r.end - r.start for r in ranges)
    n = min(len(ranges), -(-total // RECORDS_PER_TASK))
    bins: list[list[ShardRange]] = [[] for _ in range(n)]
    loads = [0] * n
    for r in sorted(ranges, key=lambda r: (r.start - r.end, r.shard_id)):
        i = loads.index(min(loads))
        bins[i].append(r)
        loads[i] += r.end - r.start
    return [
        ShardRanges(tuple(sorted(b, key=lambda r: r.shard_id))) for b in bins
    ]


def _read_ranges(partition: ShardRanges):
    """Yield Arrow RecordBatches (SCHEMA_DDL order) for each range of
    the task, in shard-id order — the whole chunk range crosses the
    Python->JVM boundary as columnar buffers instead of pickled row
    tuples (guide §4: measured round 15, the per-row pickle path was
    the stream sources' dominant cost). Row filtering is a zero-copy
    positional slice: a chunk ALWAYS holds the consecutive seq range
    [first, first+num_rows) (every writer publishes via _publish_chunk,
    which assigns seqs positionally), so slicing by offset equals
    filtering on the seq column.

    Chunks outside a range are skipped before they are opened, so a
    batch's cost does not grow with the shard's history: the chunk
    file name holds its first seq, and the chunks are contiguous, so a
    chunk ends where the next one starts. Only the last chunk's end
    needs a footer read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for r in partition.ranges:
        chunks = sorted(
            f for f in os.listdir(r.shard_dir) if f.startswith("chunk-")
        )
        firsts = [int(f[len("chunk-"):].split(".")[0]) for f in chunks]
        for i, (f, first) in enumerate(zip(chunks, firsts)):
            if first >= r.end:
                break
            path = os.path.join(r.shard_dir, f)
            if i + 1 < len(firsts):
                end = firsts[i + 1]
            else:
                end = first + pq.read_metadata(path).num_rows
            if end <= r.start:
                continue
            table = pq.read_table(path)
            lo = max(r.start - first, 0)
            hi = min(r.end - first, table.num_rows)
            sl = table.slice(lo, hi - lo)
            out = pa.table(
                {
                    "data": sl["data"],
                    "shard_id": pa.array([r.shard_id] * (hi - lo), pa.string()),
                    "seq": sl["seq"],
                }
            )
            yield from out.to_batches()


class KinesisEmuStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        self.stream_dir = options["streamdir"]
        self.start_pos = options.get("startingposition", "TRIM_HORIZON").upper()
        self.max_per_shard = int(options.get("maxrecordspershardperbatch", 0)) or None
        # last offset this reader handed to Spark — the base for
        # admission control (see latestOffset)
        self._base: dict | None = None

    # -- offsets: {shard_id: next_seq}, JSON dict -------------------------
    def initialOffset(self) -> dict:  # noqa: N802 (Spark API)
        shards = _shard_dirs(self.stream_dir)
        if self.start_pos == "LATEST":
            out = {s: _shard_end_seq(os.path.join(self.stream_dir, s)) for s in shards}
        else:
            out = {s: 0 for s in shards}
        # NEVER clobber an established base: the engine calls
        # latestOffset BEFORE initialOffset on a fresh stream (verified
        # by trace), and resetting the base backward here made
        # latestOffset regress below the committed offset — Spark then
        # rewound its offset log and re-read earlier batches.
        if self._base is None:
            self._base = dict(out)
        return out

    def latestOffset(self) -> dict:  # noqa: N802
        # shard discovery happens here: new shard dirs (resharding)
        # appear as new offset keys starting at 0
        actual = {}
        for s in _shard_dirs(self.stream_dir):
            actual[s] = _shard_end_seq(os.path.join(self.stream_dir, s))
        if self.max_per_shard is None:
            return actual
        # Admission control lives HERE, not in partitions(): Spark
        # checkpoints whatever end offset this returns, so partitions()
        # must always cover the full [start, end) range — capping there
        # would permanently skip the records beyond the cap.
        #
        # The returned offset is MONOTONE by construction: base is the
        # last offset this reader handed out, end >= base per shard,
        # and the base is never reset (see initialOffset). The very
        # first latestOffset of a reader has no base and returns the
        # uncapped actual — so pre-existing history enters in one batch
        # and the cap governs everything that ARRIVES after the stream
        # starts (including newly discovered shards, which enter capped
        # from 0). Best-effort first-batch semantics, exact afterwards
        # — and never a duplicate or a skip.
        #
        # Capping the FIRST offer is deliberately NOT done: on a
        # checkpoint restart the reader is a fresh object (base None)
        # but the engine's committed offset may be far ahead; a capped
        # first offer (min(actual, 0 + cap)) can then be BELOW the
        # committed offset, and a lower offer rewinds the offset log
        # and re-reads earlier batches (observed empirically — the
        # same failure mode as resetting the base in initialOffset).
        # This reader cannot distinguish fresh-start from restart (the
        # engine consults latestOffset before initialOffset, and only
        # the engine knows the checkpoint), so the uncapped first
        # offer is load-bearing for restart exactly-once. The
        # PRODUCTION path does not inherit this quirk: the real AWS
        # binding (kinesis_aws.py) bounds EVERY read — including the
        # first — at maxRecordsPerShardPerBatch inside read()/
        # readBetweenOffsets, which the prefetch-based
        # SimpleDataSourceStreamReader API makes safe (the engine
        # hands it the true start offset, so there is no blind offer).
        if self._base is None:
            end = dict(actual)
        else:
            base = self._base
            end = {
                s: max(
                    min(a, int(base.get(s, 0)) + self.max_per_shard),
                    int(base.get(s, 0)),
                )
                for s, a in actual.items()
            }
        self._base = dict(end)
        return end

    def reportLatestOffset(self) -> dict:  # noqa: N802
        return self.latestOffset()

    def partitions(self, start: dict, end: dict) -> list[ShardRanges]:
        # min(#ranges, ceil(records / RECORDS_PER_TASK)) read tasks, not
        # one per shard: each task pays a fixed Python worker session
        # per Python operator, which outweighs the records of a small
        # batch. Sorted by shard id so the packing depends only on the
        # offsets, never on their key order.
        ranges = [
            ShardRange(
                os.path.join(self.stream_dir, shard_id),
                shard_id,
                int(start.get(shard_id, 0)),
                int(end_seq),
            )
            for shard_id, end_seq in sorted(end.items())
        ]
        return pack_ranges(ranges)

    def read(self, partition: ShardRanges):
        yield from _read_ranges(partition)

    def commit(self, end: dict) -> None:
        pass  # chunks are retained; offsets live in the checkpoint

    def stop(self) -> None:
        pass


class KinesisEmuBatchReader(DataSourceReader):
    """Batch mode over the same stream storage (the Kafka-connector
    parity: a stream you can also ``spark.read`` for replay/backfill).
    Tasks are packed like the stream reader's; optional
    ``startSeq``/``endSeq`` options bound the replay window on every
    shard."""

    def __init__(self, options: dict) -> None:
        self.stream_dir = options["streamdir"]
        self.start_seq = int(options.get("startseq", 0))
        self.end_seq = int(options.get("endseq", -1))

    def partitions(self) -> list[ShardRanges]:
        ranges = []
        for s in _shard_dirs(self.stream_dir):
            d = os.path.join(self.stream_dir, s)
            end = _shard_end_seq(d) if self.end_seq < 0 else self.end_seq
            ranges.append(ShardRange(d, s, self.start_seq, end))
        return pack_ranges(ranges)

    def read(self, partition: ShardRanges):
        yield from _read_ranges(partition)


@dataclass
class _StagedWrite(WriterCommitMessage):
    """One task's staged output: (shard_id, staged_path, n_rows)."""

    part_id: int
    staged: list


class KinesisEmuStreamWriter(DataSourceStreamArrowWriter):
    """The PRODUCER half of the connector (Kinesis PutRecords as a
    ``writeStream.format("kinesis_emu")`` sink) with an exactly-once
    commit protocol over the same chunk storage the reader consumes:

    - ``write()`` (executors): each task receives Arrow RecordBatches
      (DataSourceStreamArrowWriter — columnar exchange instead of
      per-row pickling, guide §4), groups its rows by shard with
      order-preserving Arrow filters and stages them as uncommitted
      parquet under ``.staging/`` — invisible to readers (chunk
      listing matches ``chunk-*`` only) — returning the staged paths
      in its commit message.
    - ``commit()`` (driver): assigns sequence numbers ONCE, globally —
      staged data is concatenated in (task partition, shard) order, so
      the published order is deterministic for a given micro-batch —
      and publishes one atomic chunk per shard via the same
      write-then-rename discipline as ``write_kinesis_fixture``. A
      batch marker under ``_committed/`` makes re-commits after a
      restart no-ops: the replayed epoch sees its marker and discards
      its staging instead of double-publishing (exactly-once, R15's
      idempotency at the connector layer).
    - ``abort()``: staged files are deleted; nothing was visible.

    Like real Kinesis sequencing, seq assignment is centralized:
    ONE committing driver per stream directory (concurrent producer
    JOBS to the same stream need external serialization, as with any
    file-backed queue). Input rows: (data binary, shard_id string).
    """

    def __init__(self, options: dict) -> None:
        self.stream_dir = options["streamdir"]

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        batches = [b for b in iterator if b.num_rows]
        staging = os.path.join(self.stream_dir, ".staging")
        os.makedirs(staging, exist_ok=True)
        staged = []
        if batches:
            tbl = pa.Table.from_batches(batches)
            # pc.filter is order-preserving, so each shard's staged
            # rows keep their delivery order — load-bearing for the
            # positional seq assignment in commit()
            for sid in sorted(pc.unique(tbl["shard_id"]).to_pylist()):
                data = tbl.filter(pc.equal(tbl["shard_id"], sid))["data"]
                data = data.cast(pa.binary())
                p = os.path.join(staging, f"stage-{uuid.uuid4().hex}.parquet")
                pq.write_table(pa.table({"data": data}), p)
                staged.append((sid, p, len(data)))
        return _StagedWrite(pid, staged)

    def _cleanup(self, messages) -> None:
        for msg in messages:
            for _shard, path, _n in getattr(msg, "staged", []) or []:
                try:
                    os.remove(path)
                except OSError:
                    pass

    def commit(self, messages, batchId) -> None:  # noqa: N802 (Spark API)
        """Two-phase publish, exactly-once across driver crashes at ANY
        point in this method. Marker-last alone is not enough: a crash
        after some per-shard renames but before the marker would make
        the replayed epoch re-derive FRESH start sequences from the
        already-advanced shard ends and re-publish the same records at
        new seqs (the round-7 advice finding). So the commit point is
        split:

        1. an INTENT file (atomic rename) records the planned
           (shard -> start_seq, count) ranges BEFORE anything becomes
           visible — on replay the plan is re-READ, never re-derived;
        2. each shard chunk publishes at its PLANNED start; a chunk
           already present at that exact name is the crashed attempt's
           output (chunks are immutable, seqs monotone, one committing
           driver per stream dir) and is skipped, not duplicated;
        3. the intent renames into the final marker only after every
           shard is published.

        Replay therefore resumes idempotently from whichever of the
        three phases the crash interrupted. Assumes Structured
        Streaming's contract that a replayed epoch re-delivers the
        same batch data for the same batchId.

        CONTRACT — deterministic per-partition ORDER upstream: the
        intent digest is length-framed md5 over each shard's payloads
        in delivery order, because intra-shard order is load-bearing
        (seq numbers are positional, and a crashed attempt may have
        already published a prefix under the planned order — replaying
        a reordering would silently remap seq->payload). A replayed
        epoch that delivers the same payload multiset in a DIFFERENT
        intra-partition order — possible when the upstream query
        shuffles without an explicit sort — permanently fails this
        batch by design. If the upstream plan contains a shuffle, add
        ``sortWithinPartitions(...)`` on a key that totally orders
        rows before this sink."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        marker_dir = os.path.join(self.stream_dir, "_committed")
        os.makedirs(marker_dir, exist_ok=True)
        marker = os.path.join(marker_dir, f"batch-{int(batchId):020d}")
        if os.path.exists(marker):  # replayed epoch: already published
            self._cleanup(messages)
            return
        per_shard: dict[str, list[str]] = {}
        for msg in sorted(messages, key=lambda m: m.part_id):
            for shard_id, path, _n in msg.staged:
                per_shard.setdefault(shard_id, []).append(path)
        # Arrow-native concat (guide §5 — the driver must not convert
        # every payload to Python objects just to re-serialize them):
        # staged columns concatenate as buffers and publish as buffers;
        # only the ~bytes-sized digest loop touches per-payload scalars.
        payloads_by_shard = {
            shard_id: pa.concat_tables(
                [pq.read_table(p) for p in paths]
            )["data"]
            for shard_id, paths in sorted(per_shard.items())
        }
        intent = marker + ".intent"
        if os.path.exists(intent):  # crashed mid-publish: reuse the plan
            with open(intent) as fh:
                planned = json.load(fh)["shards"]
        else:
            planned = {}
            for shard_id, payloads in payloads_by_shard.items():
                d = os.path.join(self.stream_dir, shard_id)
                os.makedirs(d, exist_ok=True)
                planned[shard_id] = {
                    "start": _shard_end_seq(d),
                    "count": len(payloads),
                    "digest": _payloads_digest(payloads),
                }
            with open(intent + ".tmp", "w") as fh:
                fh.write(json.dumps({"batch": int(batchId), "shards": planned}))
            os.replace(intent + ".tmp", intent)
        # a shard present in the replayed epoch but absent from the
        # intent means the replay is NOT the batch the plan was written
        # for — publishing it would corrupt seq assignment silently.
        extra = sorted(set(payloads_by_shard) - set(planned))
        if extra:
            raise RuntimeError(
                f"exactly-once replay contract violation for batch "
                f"{int(batchId)}: replayed epoch delivered shard(s) "
                f"{extra} absent from the recorded intent"
            )
        for shard_id, plan in planned.items():
            # same-batch contract check: a replayed epoch must deliver
            # the exact data the intent was planned for — publishing a
            # different payload set under the recorded seq ranges would
            # silently corrupt the stream, so fail loudly instead.
            got = payloads_by_shard.get(shard_id, [])
            if len(got) != int(plan["count"]):
                raise RuntimeError(
                    f"exactly-once replay contract violation for batch "
                    f"{int(batchId)}, shard {shard_id}: intent planned "
                    f"{int(plan['count'])} payload(s) but the replayed "
                    f"epoch delivered {len(got)} — refusing to publish "
                    f"under the recorded seq ranges"
                )
            # count alone misses a same-count/different-bytes replay;
            # the length-framed md5 recorded at plan time pins content.
            # "digest" may be absent from intents written by older
            # versions mid-crash; those verify by count only.
            want_digest = plan.get("digest")
            if want_digest is not None and _payloads_digest(got) != want_digest:
                raise RuntimeError(
                    f"exactly-once replay contract violation for batch "
                    f"{int(batchId)}, shard {shard_id}: replayed epoch "
                    f"delivered {len(got)} payload(s) matching the "
                    f"planned count but with different content (payload "
                    f"digest mismatch) — refusing to publish under the "
                    f"recorded seq ranges"
                )
            d = os.path.join(self.stream_dir, shard_id)
            os.makedirs(d, exist_ok=True)
            final = os.path.join(d, f"chunk-{int(plan['start']):020d}.parquet")
            if os.path.exists(final):  # published by the crashed attempt
                continue
            _publish_chunk(d, got, int(plan["start"]))
        os.replace(intent, marker)  # the commit point; content = the ranges
        self._cleanup(messages)

    def abort(self, messages, batchId) -> None:  # noqa: N802
        self._cleanup(messages)


class KinesisEmuDataSource(DataSource):
    """``spark.readStream.format("kinesis_emu")`` (streaming read),
    ``spark.read.format("kinesis_emu")`` (replay/backfill), or
    ``df.writeStream.format("kinesis_emu")`` (exactly-once produce)
    after ``spark.dataSource.register(KinesisEmuDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "kinesis_emu"

    def schema(self) -> str:
        return SCHEMA_DDL

    def streamReader(self, schema: StructType) -> KinesisEmuStreamReader:  # noqa: N802
        return KinesisEmuStreamReader(self.options)

    def reader(self, schema: StructType) -> KinesisEmuBatchReader:
        return KinesisEmuBatchReader(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool):  # noqa: N802
        return KinesisEmuStreamWriter(self.options)
