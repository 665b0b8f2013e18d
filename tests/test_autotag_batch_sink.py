"""autotag_batch_sink called directly as a foreachBatch body: the
micro-batch plan runs once, and one batch's keys resolve to the
highest seq per _id, with unknown and null _ids dead-lettered."""

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
    # a replay re-tags idempotently: same tags, same version
    write_batch(batch, 0)
    assert _store(spark, store) == got


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
