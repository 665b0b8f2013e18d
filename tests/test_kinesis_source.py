"""The custom Python Data Source streaming connector with Kinesis
semantics: per-shard sequence offsets, read tasks packed by record
count, TRIM_HORIZON/LATEST starting positions, per-batch admission
control, checkpointed exactly-once offset recovery, and end-to-end
composition with the story pipeline."""

import gzip
import json

import pytest
from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.streaming.kinesis_source import (
    RECORDS_PER_TASK,
    KinesisEmuDataSource,
    KinesisEmuStreamReader,
    write_kinesis_fixture,
)
from arc_kinesis_tagging_spark.streaming.pipeline import story_pipeline


def _blob(i, shard):
    doc = {
        "id": f"doc-{shard}-{i}",
        "operation": "insert-story",
        "published": True,
        "created": False,
        "type": "story",
        "trigger": {"referent_update": True},
        "body": {"headlines": {"basic": f"h{i}"}, "revision": f"r{i}"},
    }
    return gzip.compress(json.dumps(doc, sort_keys=True).encode(), mtime=0)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(KinesisEmuDataSource)
    return spark


def _drain(spark, stream_dir, ckpt, extra_opts=None, out=None):
    reader = (
        spark.readStream.format("kinesis_emu").option("streamDir", stream_dir)
    )
    for k, v in (extra_opts or {}).items():
        reader = reader.option(k, v)
    rows = out if out is not None else []

    def collect_batch(df, _bid):
        rows.extend(df.collect())

    q = (
        reader.load()
        .writeStream.foreachBatch(collect_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return rows


def test_trim_horizon_reads_all_shards(registered, tmp_path):
    spark = registered
    sd = str(tmp_path / "stream")
    write_kinesis_fixture(sd, [(_blob(i, i % 3), i % 3) for i in range(30)])
    rows = _drain(spark, sd, str(tmp_path / "ck1"))
    assert len(rows) == 30
    assert {r["shard_id"] for r in rows} == {
        "shardId-000000000000", "shardId-000000000001", "shardId-000000000002",
    }
    # per-shard sequence numbers are dense from 0
    per = {}
    for r in rows:
        per.setdefault(r["shard_id"], []).append(r["seq"])
    for seqs in per.values():
        assert sorted(seqs) == list(range(len(seqs)))


def test_latest_skips_history_then_sees_new(registered, tmp_path):
    spark = registered
    sd = str(tmp_path / "stream-latest")
    write_kinesis_fixture(sd, [(_blob(i, 0), 0) for i in range(5)])
    ck = str(tmp_path / "ck-latest")
    rows = _drain(spark, sd, ck, {"startingPosition": "LATEST"})
    assert rows == []  # history before first start is skipped (app.py:18)
    # ...but with checkpointed offsets, a restart is NOT data loss:
    write_kinesis_fixture(sd, [(_blob(i, 0), 0) for i in range(5, 9)])
    rows = _drain(spark, sd, ck, {"startingPosition": "LATEST"})
    assert sorted(r["seq"] for r in rows) == [5, 6, 7, 8]


def test_admission_control_bounds_batches(registered, tmp_path):
    # The cap governs data that ARRIVES while the stream runs (the
    # steady state; pre-existing history enters in one best-effort
    # batch). Start on an empty stream, then write 20 records: every
    # batch must admit <= 7, nothing skipped, nothing duplicated.
    import os
    import time

    spark = registered
    sd = str(tmp_path / "stream-adm")
    os.makedirs(sd, exist_ok=True)
    rows = []
    batch_sizes = []

    def record_batch(df, _bid):
        got = df.collect()
        if got:
            batch_sizes.append(len(got))
            rows.extend(got)

    q = (
        spark.readStream.format("kinesis_emu")
        .option("streamDir", sd)
        .option("maxRecordsPerShardPerBatch", 7)
        .load()
        .writeStream.foreachBatch(record_batch)
        .option("checkpointLocation", str(tmp_path / "ck-adm"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        # Wait for a COMPLETED (empty) batch before writing: the
        # reader's first latestOffset is uncapped by design (restart
        # safety — see KinesisEmuStreamReader.latestOffset), so the
        # cap only governs records that arrive after the base is
        # established. A fixed sleep flaked under full-suite load
        # (the stream took >2s to start and all 20 records landed in
        # the uncapped first batch).
        base_deadline = time.time() + 60
        while q.lastProgress is None and time.time() < base_deadline:
            time.sleep(0.1)
        assert q.lastProgress is not None, "stream never completed batch 0"
        write_kinesis_fixture(sd, [(_blob(i, 0), 0) for i in range(20)])
        deadline = time.time() + 90
        while len(rows) < 20 and time.time() < deadline:
            time.sleep(0.25)
    finally:
        q.stop()
    assert sorted(r["seq"] for r in rows) == list(range(20))  # no skip/dup
    # every micro-batch admitted at most the cap (GetRecords Limit
    # analog, app.py:22-24)
    assert max(batch_sizes) <= 7 and len(batch_sizes) >= 3


def test_checkpoint_recovery_no_replay(registered, tmp_path):
    spark = registered
    sd = str(tmp_path / "stream-ck")
    ck = str(tmp_path / "ck-rec")
    write_kinesis_fixture(sd, [(_blob(i, i % 2), i % 2) for i in range(10)])
    first = _drain(spark, sd, ck)
    assert len(first) == 10
    # restart with same checkpoint: nothing new -> nothing replayed
    again = _drain(spark, sd, ck)
    assert again == []
    # new records (including a NEW shard -> discovery) arrive after restart
    write_kinesis_fixture(sd, [(_blob(99, 5), 5)])
    more = _drain(spark, sd, ck)
    assert len(more) == 1 and more[0]["shard_id"] == "shardId-000000000005"


def test_pipeline_end_to_end_over_connector(registered, tmp_path):
    spark = registered
    sd = str(tmp_path / "stream-e2e")
    write_kinesis_fixture(sd, [(_blob(i, i % 2), i % 2) for i in range(8)])
    out = []

    def collect_batch(df, _bid):
        out.extend(df.collect())

    q = (
        story_pipeline(
            spark.readStream.format("kinesis_emu").option("streamDir", sd).load()
        )
        .writeStream.foreachBatch(collect_batch)
        .option("checkpointLocation", str(tmp_path / "ck-e2e"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(out) == 8
    assert {r["_id"] for r in out} == {f"doc-{i % 2}-{i}" for i in range(8)}
    assert all(r["shard_origination"].startswith("shardId-") for r in out)


def test_batch_replay_over_same_storage(registered, tmp_path):
    spark = registered
    sd = str(tmp_path / "stream-batch")
    write_kinesis_fixture(sd, [(_blob(i, i % 2), i % 2) for i in range(12)])
    df = spark.read.format("kinesis_emu").option("streamDir", sd).load()
    assert df.count() == 12
    # bounded replay window applies per shard
    win = (
        spark.read.format("kinesis_emu")
        .option("streamDir", sd)
        .option("startSeq", 2)
        .option("endSeq", 5)
        .load()
    )
    rows = win.collect()
    assert sorted((r["shard_id"][-1], r["seq"]) for r in rows) == [
        ("0", 2), ("0", 3), ("0", 4), ("1", 2), ("1", 3), ("1", 4),
    ]


def test_bounded_read_skips_chunks_outside_range(registered, tmp_path):
    """A startSeq/endSeq read opens only the chunks that overlap the
    range: an early chunk overwritten with garbage must not be read."""
    import os

    spark = registered
    sd = str(tmp_path / "stream-skip")
    for _ in range(3):  # three chunks per shard: seqs 0-3, 4-7, 8-11
        write_kinesis_fixture(sd, [(b"p", s) for s in (0, 1) for _ in range(4)])
    shard0 = os.path.join(sd, "shardId-000000000000")
    with open(os.path.join(shard0, f"chunk-{0:020d}.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    rows = (
        spark.read.format("kinesis_emu")
        .option("streamDir", sd)
        .option("startSeq", 5)
        .option("endSeq", 10)
        .load()
        .collect()
    )
    assert sorted((r["shard_id"][-1], r["seq"]) for r in rows) == [
        (s, q) for s in ("0", "1") for q in range(5, 10)
    ]


def _shard_ids(n):
    return [f"shardId-{s:012d}" for s in range(n)]


def test_small_batch_packs_into_one_read_task(tmp_path):
    """4 shards x 25 records is far below RECORDS_PER_TASK: one read
    task, which delivers every (shard_id, seq) exactly once."""
    sd = str(tmp_path / "stream-pack")
    write_kinesis_fixture(sd, [(b"p%d" % i, i % 4) for i in range(100)])
    reader = KinesisEmuStreamReader({"streamdir": sd})
    parts = reader.partitions({}, {s: 25 for s in _shard_ids(4)})
    assert len(parts) == 1
    got = [
        (sid, seq)
        for p in parts
        for b in reader.read(p)
        for sid, seq in zip(b["shard_id"].to_pylist(), b["seq"].to_pylist())
    ]
    assert sorted(got) == [(s, q) for s in _shard_ids(4) for q in range(25)]
    assert len(got) == len(set(got))


def test_large_batch_keeps_one_read_task_per_shard():
    """With at least RECORDS_PER_TASK records per shard, every shard
    range is its own task, as without packing."""
    reader = KinesisEmuStreamReader({"streamdir": "/stream"})
    start = {s: 7 for s in _shard_ids(4)}
    end = {s: 7 + RECORDS_PER_TASK + i for i, s in enumerate(_shard_ids(4))}
    parts = reader.partitions(start, end)
    assert sorted(
        (r.shard_id, r.start, r.end) for p in parts for r in p.ranges
    ) == [(s, 7, end[s]) for s in _shard_ids(4)]
    assert all(len(p.ranges) == 1 for p in parts)


def test_packing_is_a_function_of_the_offsets():
    """A replayed batch must get the same tasks with the same ranges in
    the same order, whatever order the offset keys come in."""
    reader = KinesisEmuStreamReader({"streamdir": "/stream"})
    sizes = [RECORDS_PER_TASK, 40, RECORDS_PER_TASK // 2, 0, 900, 3]
    start = {s: 10 for s in _shard_ids(6)}
    end = {s: 10 + n for s, n in zip(_shard_ids(6), sizes)}
    first = reader.partitions(start, end)
    assert first == reader.partitions(start, end)
    assert first == reader.partitions(
        dict(reversed(start.items())), dict(reversed(end.items()))
    )
    # ceil(total / RECORDS_PER_TASK) tasks; the empty shard gets none
    assert len(first) == 2
    assert sorted(r.shard_id for p in first for r in p.ranges) == [
        s for s, n in zip(_shard_ids(6), sizes) if n
    ]


def test_stream_writer_tee_exactly_once(registered, tmp_path):
    """The DataSourceStreamWriter (producer half): a stream TEE —
    consume stream A through the connector, republish every record to
    stream B through the connector's exactly-once sink — must deliver
    every payload to the right shard in order, survive a checkpointed
    restart with zero duplicates (the _committed batch marker makes a
    replayed commit a no-op), and leave no staging residue."""
    import os

    spark = registered
    src = str(tmp_path / "stream-a")
    dst = str(tmp_path / "stream-b")
    ckpt = str(tmp_path / "ckpt-tee")
    write_kinesis_fixture(
        src, [(_blob(i, i % 2), i % 2) for i in range(12)]
    )

    def tee():
        q = (
            spark.readStream.format("kinesis_emu")
            .option("streamDir", src).load()
            .select("data", "shard_id")
            .writeStream.format("kinesis_emu")
            .option("streamDir", dst)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    tee()
    out = (
        spark.read.format("kinesis_emu").option("streamDir", dst).load()
    ).collect()
    want = {(bytes(_blob(i, i % 2)), f"shardId-{i % 2:012d}") for i in range(12)}
    assert {(bytes(r["data"]), r["shard_id"]) for r in out} == want
    assert len(out) == 12
    # per-shard seq order equals source arrival order
    for shard in (0, 1):
        got = [
            bytes(r["data"])
            for r in sorted(out, key=lambda r: r["seq"])
            if r["shard_id"] == f"shardId-{shard:012d}"
        ]
        assert got == [_blob(i, shard) for i in range(shard, 12, 2)]

    # restart from the same checkpoint: no new data -> no duplicates
    tee()
    again = (
        spark.read.format("kinesis_emu").option("streamDir", dst).load()
    ).count()
    assert again == 12
    # staging fully cleaned up
    staging = os.path.join(dst, ".staging")
    assert not os.path.isdir(staging) or not os.listdir(staging)

    # new records flow through incrementally on the same checkpoint
    write_kinesis_fixture(src, [(_blob(100, 0), 0)])
    tee()
    final = (
        spark.read.format("kinesis_emu").option("streamDir", dst).load()
    ).count()
    assert final == 13


def _stage(tmp_path, shard_payloads):
    """Emulate write(): stage one parquet per shard, return the
    commit message the driver would receive."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from arc_kinesis_tagging_spark.streaming.kinesis_source import _StagedWrite

    staging = tmp_path / "stream-c" / ".staging"
    staging.mkdir(parents=True, exist_ok=True)
    staged = []
    for shard_id, payloads in sorted(shard_payloads.items()):
        p = str(staging / f"stage-{uuid.uuid4().hex}.parquet")
        pq.write_table(pa.table({"data": pa.array(payloads, pa.binary())}), p)
        staged.append((shard_id, p, len(payloads)))
    return _StagedWrite(0, staged)


def _read_all(dst):
    """(payload, shard_id, seq) triples published in ``dst``."""
    import os

    import pyarrow.parquet as pq

    out = []
    for shard in sorted(os.listdir(dst)):
        d = os.path.join(dst, shard)
        if not shard.startswith("shardId-") or not os.path.isdir(d):
            continue
        for chunk in sorted(f for f in os.listdir(d) if f.startswith("chunk-")):
            t = pq.read_table(os.path.join(d, chunk))
            for payload, seq in zip(
                t["data"].to_pylist(), t["seq"].to_pylist()
            ):
                out.append((bytes(payload), shard, int(seq)))
    return out


def test_stream_writer_commit_crash_windows(tmp_path, monkeypatch):
    """Exactly-once must survive a driver crash at EVERY point inside
    commit(), not only between epochs (the round-7 advice finding: the
    old marker-last-only protocol duplicated records when the crash
    landed between the per-shard publishes and the marker, because the
    replay re-DERIVED start sequences from the already-advanced shard
    ends). Crash injection at each phase; replayed commit must
    converge to exactly-once."""
    import arc_kinesis_tagging_spark.streaming.kinesis_source as ks

    dst = str(tmp_path / "stream-c")
    payloads = {
        "shardId-000000000000": [b"a0", b"a1"],
        "shardId-000000000001": [b"b0"],
    }
    want = {
        (b"a0", "shardId-000000000000", 0),
        (b"a1", "shardId-000000000000", 1),
        (b"b0", "shardId-000000000001", 0),
    }

    class Boom(RuntimeError):
        pass

    def run_with_crash(batch_id, crash_after_publishes=None,
                       crash_on_marker=False):
        """Run commit(); crash after N successful shard publishes, or
        on the final marker rename (None/False = no crash). A fresh
        staged message each attempt, as a replayed epoch would
        produce."""
        w = ks.KinesisEmuStreamWriter({"streamdir": dst})
        msg = _stage(tmp_path, payloads)
        real = ks._publish_chunk
        real_replace = ks.os.replace
        seen = {"n": 0}

        def crashing(d, p, s):
            if seen["n"] == crash_after_publishes:
                raise Boom()
            real(d, p, s)
            seen["n"] += 1

        def marker_crash(a, b):
            if "_committed" in b and not b.endswith(".intent"):
                raise Boom()
            real_replace(a, b)

        if crash_after_publishes is not None:
            monkeypatch.setattr(ks, "_publish_chunk", crashing)
        if crash_on_marker:
            monkeypatch.setattr(ks.os, "replace", marker_crash)
        try:
            w.commit([msg], batch_id)
        finally:
            monkeypatch.setattr(ks, "_publish_chunk", real)
            monkeypatch.setattr(ks.os, "replace", real_replace)

    # crash before ANY publish (intent written, nothing visible)
    with pytest.raises(Boom):
        run_with_crash(0, crash_after_publishes=0)
    run_with_crash(0)
    assert set(_read_all(dst)) == want

    # replayed commit of the SAME batch is a no-op (marker present)
    run_with_crash(0)
    assert sorted(_read_all(dst)) == sorted(want)

    # crash between the two shard publishes: the old protocol's
    # duplication window — replay must skip the already-published
    # shard and publish only the missing one
    with pytest.raises(Boom):
        run_with_crash(1, crash_after_publishes=1)
    mid = _read_all(dst)
    assert len(mid) == 5  # batch 0 (3 rows) + one shard of batch 1 (2)
    run_with_crash(1)
    got = _read_all(dst)
    assert len(got) == 6, got  # batch 0 + batch 1, zero duplicates
    assert len(set(got)) == 6
    # batch-1 seqs continue monotonically per shard
    seqs0 = sorted(s for _, sh, s in got if sh.endswith("0000"))
    assert seqs0 == [0, 1, 2, 3]

    # crash after ALL publishes but before the marker rename
    with pytest.raises(Boom):
        run_with_crash(2, crash_on_marker=True)
    run_with_crash(2)
    got = _read_all(dst)
    assert len(got) == 9 and len(set(got)) == 9


def test_gated_pipeline_full_connector_loop(registered, tmp_path):
    """The production loop END TO END over the connector on BOTH
    sides: consume stream A through kinesis_emu, run the story
    pipeline plus the admission gate (allow-all robots rules, frozen
    LM), republish only the LM-ADMITTED records to stream B
    through the exactly-once staged writer, and survive a
    checkpointed re-run with zero duplicates. Composes what the
    gate-parity, writer-crash, and reader tests each prove alone."""
    import os

    from pyspark.sql import functions as F

    from arc_kinesis_tagging_spark.streaming.pipeline import (
        make_admission_gate,
        train_pruned_lm,
    )

    spark = registered
    src = str(tmp_path / "stream-a")
    dst = str(tmp_path / "stream-b")
    ckpt = str(tmp_path / "ckpt-gated-loop")

    fluent = "the quick brown fox jumps over the lazy dog"
    gibberish = "zx qv jk wq xz vq kj qw zv xq"

    def story(i, text, shard):
        doc = {
            "id": f"doc-{i}",
            "operation": "insert-story",
            "published": True,
            "created": False,
            "type": "story",
            "trigger": {"referent_update": True},
            "body": {"headlines": {"basic": text}, "revision": "r1"},
        }
        return (
            gzip.compress(json.dumps(doc, sort_keys=True).encode(), mtime=0),
            shard,
        )

    # shard 0: fluent (admitted); shard 1: alternating
    recs = [story(i, fluent if (i % 2 == 0) else gibberish, i % 2)
            for i in range(10)]
    write_kinesis_fixture(src, recs)

    train = spark.createDataFrame([(fluent,)] * 3, "text string")
    gate = make_admission_gate(
        [], train_pruned_lm(train, "text"), ({}, 0.0),
        text_col="headline", lm_threshold=2.5,
    )

    def run():
        records = (
            spark.readStream.format("kinesis_emu")
            .option("streamDir", src).load()
        )
        admitted = (
            gate(
                story_pipeline(records)
                .withColumn("host", F.lit("news"))
                .withColumn("path", F.lit("/"))
            )
            .filter(F.col("lm_kept"))
            .select(
                F.to_binary(F.col("_id"), F.lit("utf-8")).alias("data"),
                F.col("shard_origination").alias("shard_id"),
            )
        )
        q = (
            admitted.writeStream.format("kinesis_emu")
            .option("streamDir", dst)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    out = spark.read.format("kinesis_emu").option("streamDir", dst).load()
    rows = out.collect()
    got = sorted(bytes(r["data"]).decode() for r in rows)
    assert got == [f"doc-{i}" for i in range(0, 10, 2)], got
    # admitted records keep their origin shard
    assert {r["shard_id"] for r in rows} == {"shardId-000000000000"}

    # checkpointed re-run: no new input -> zero duplicates in B
    run()
    assert (
        spark.read.format("kinesis_emu").option("streamDir", dst).load()
    ).count() == 5
    staging = os.path.join(dst, ".staging")
    assert not os.path.isdir(staging) or not os.listdir(staging)
