"""autotag_batch_sink called directly as a foreachBatch body: the
micro-batch plan runs once, and one batch's keys resolve to the
highest seq per _id, with unknown and null _ids dead-lettered."""

import os

from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.streaming.sinks import autotag_batch_sink

TAG = {"slug": "kinesis-autotag", "text": "kinesis autotag"}
STORE_DDL = (
    "_id string, revision string, "
    "tags array<struct<slug:string,text:string>>, seq long"
)


def _seed_store(spark, path):
    spark.createDataFrame(
        [
            ("a", "r1", None, 0),
            ("b", "r1", [("politics", "Politics")], 0),
        ],
        STORE_DDL,
    ).write.parquet(path)


def _store(spark, path):
    return {
        r["_id"]: ([t.asDict() for t in (r["tags"] or [])], r["seq"])
        for r in spark.read.parquet(path).collect()
    }


def _counted_batch(spark, rows):
    """A batch DataFrame whose every evaluation of a row bumps the
    returned accumulator — it counts how often the sink runs the
    batch's plan."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def seen(seq):
        acc.add(1)
        return seq

    df = spark.createDataFrame(rows, "_id string, seq long")
    return df.withColumn("seq", seen("seq")), acc


def test_sink_runs_batch_plan_once(spark, tmp_path):
    store = str(tmp_path / "store")
    _seed_store(spark, store)
    rows = [("a", 3), ("b", 4), ("a", 5), ("ghost", 6)]
    batch, acc = _counted_batch(spark, rows)
    autotag_batch_sink(spark, store, TAG)(batch, 0)
    assert acc.value == len(rows)
    assert _store(spark, store)["a"] == ([TAG], 6)


def test_sink_one_batch_keys_and_dead_letters(spark, tmp_path):
    store = str(tmp_path / "store")
    _seed_store(spark, store)
    write_batch = autotag_batch_sink(spark, store, TAG)
    batch = spark.createDataFrame(
        [("a", 7), ("a", 9), (None, 8), ("ghost", 2)], "_id string, seq long"
    )
    write_batch(batch, 0)
    got = _store(spark, store)
    # the higher seq wins; the written version is that seq + 1
    assert got["a"] == ([TAG], 10)
    assert got["b"] == ([{"slug": "politics", "text": "Politics"}], 0)
    assert set(got) == {"a", "b"}
    dead = sorted(
        (r["_id"] or "", r["seq"], r["reason"])
        for r in spark.read.parquet(store + ".deadletter").collect()
    )
    # the null _id is dead-lettered exactly once, like the unknown id
    assert dead == [("", 8, "document_not_found"), ("ghost", 2, "document_not_found")]
    assert write_batch.last_counts == {"batch_id": 0, "tagged": 1, "dead_lettered": 2}
    # a replay re-tags idempotently: same tags, same version
    write_batch(batch, 0)
    assert _store(spark, store) == got
    # the replay ties the stored version, so it tags nothing
    assert write_batch.last_counts == {"batch_id": 0, "tagged": 0, "dead_lettered": 2}


def test_sink_reads_store_with_the_schema_it_wrote(spark, tmp_path):
    """The sink infers the store schema once, then reads each batch with
    the schema its last upsert wrote: a store seeded with an int seq is
    widened to long by the first batch and must still read back."""
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [("a", "r1", None, 0), ("b", "r1", None, 0)],
        "_id string, revision string, "
        "tags array<struct<slug:string,text:string>>, seq int",
    ).write.parquet(store)
    write_batch = autotag_batch_sink(spark, store, TAG)
    write_batch(spark.createDataFrame([("a", 4)], "_id string, seq long"), 0)
    write_batch(spark.createDataFrame([("b", 6)], "_id string, seq long"), 1)
    assert _store(spark, store) == {"a": ([TAG], 5), "b": ([TAG], 7)}


def _part_files(path):
    return sorted(n for n in os.listdir(path) if n.startswith("part-"))


def test_sink_keeps_stored_row_on_tie_and_stale_batch(spark, tmp_path):
    """A row is tagged only if the batch seq + 1 exceeds the stored seq:
    a tie (stored == batch + 1) and a stale batch (stored > batch + 1)
    keep the stored row as it was."""
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [
            ("tie", "r1", None, 5),
            ("stale", "r1", [("politics", "Politics")], 9),
            ("new", "r1", None, 0),
        ],
        STORE_DDL,
    ).write.parquet(store)
    write_batch = autotag_batch_sink(spark, store, TAG)
    write_batch(
        spark.createDataFrame([("tie", 4), ("stale", 4), ("new", 1)], "_id string, seq long"),
        0,
    )
    assert _store(spark, store) == {
        "tie": ([], 5),
        "stale": ([{"slug": "politics", "text": "Politics"}], 9),
        "new": ([TAG], 2),
    }
    assert write_batch.last_counts == {"batch_id": 0, "tagged": 1, "dead_lettered": 0}
    assert not os.path.exists(store + ".deadletter")


def test_sink_null_id_never_matches_a_null_id_store_row(spark, tmp_path):
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [("a", "r1", None, 0), (None, "r0", [("politics", "Politics")], 0)], STORE_DDL
    ).write.parquet(store)
    write_batch = autotag_batch_sink(spark, store, TAG)
    write_batch(
        spark.createDataFrame([("a", 1), (None, 8), (None, 3)], "_id string, seq long"), 0
    )
    # the null-_id store row stays as it was
    assert _store(spark, store) == {
        "a": ([TAG], 2),
        None: ([{"slug": "politics", "text": "Politics"}], 0),
    }
    # the null-_id batch rows are dead-lettered once, with their max seq
    dead = [(r["_id"], r["seq"]) for r in spark.read.parquet(store + ".deadletter").collect()]
    assert dead == [(None, 8)]
    assert write_batch.last_counts == {"batch_id": 0, "tagged": 1, "dead_lettered": 1}


def test_sink_unknown_ids_only_leave_store_files_alone(spark, tmp_path):
    store = str(tmp_path / "store")
    _seed_store(spark, store)
    before, files = _store(spark, store), _part_files(store)
    write_batch = autotag_batch_sink(spark, store, TAG)
    write_batch(spark.createDataFrame([("ghost", 2), (None, 3)], "_id string, seq long"), 7)
    assert _part_files(store) == files
    assert _store(spark, store) == before
    assert spark.read.parquet(store + ".deadletter").count() == 2
    assert write_batch.last_counts == {"batch_id": 7, "tagged": 0, "dead_lettered": 2}


def test_sink_batch_jobs_stay_in_the_callers_job_group(spark, tmp_path):
    """One batch with tagged and dead rows runs at most four jobs: the
    keyed aggregate's and the two writes. Both writes run at once, and
    no job of the batch leaves the caller's job group, so a streaming
    query's stop() (which cancels its group) reaches every write."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = str(tmp_path / "store")
    _seed_store(spark, store)
    write_batch = autotag_batch_sink(spark, store, TAG)
    # the first batch also infers the store schema (one job per sink)
    write_batch(spark.createDataFrame([("a", 1)], "_id string, seq long"), 0)
    group = f"autotag-{tmp_path.name}"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "one autotag batch")
    try:
        write_batch(
            spark.createDataFrame([("a", 5), ("b", 3), ("ghost", 2)], "_id string, seq long"),
            1,
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    jobs = tracker.getJobIdsForGroup(group)
    assert 3 <= len(jobs) <= 4, jobs
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    assert write_batch.last_counts == {"batch_id": 1, "tagged": 2, "dead_lettered": 1}
    assert _store(spark, store) == {
        "a": ([TAG], 6),
        "b": ([{"slug": "politics", "text": "Politics"}, TAG], 4),
    }
    assert spark.read.parquet(store + ".deadletter").count() == 1
