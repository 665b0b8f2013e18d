"""File readers (JSON/CSV with corrupt capture) and sinks (partitioned
parquet with pruning, batch keyed upsert)."""

import os

from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.sources.readers import (
    read_csv,
    read_json,
    upsert_by_key_parquet,
    write_partitioned_parquet,
)
from arc_kinesis_tagging_spark.sources.tables import TABLES, _schema_memo, load_table


def test_json_reader_corrupt_capture(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "name": "a"}\n'
        'not json at all\n'
        '{"id": 2, "name": "b"}\n'
    )
    df = read_json(spark, str(p), "id long, name string")
    rows = df.collect()
    good = {(r["id"], r["name"]) for r in rows if r["_corrupt_record"] is None}
    bad = [r["_corrupt_record"] for r in rows if r["_corrupt_record"] is not None]
    assert good == {(1, "a"), (2, "b")}
    assert bad == ["not json at all"]


def test_load_table_infers_each_schema_once(spark, sf_dir, tmp_path):
    """load_table memoizes the inferred parquet schema per session: a
    second read of an unchanged table runs no Spark job, a rewrite with
    a new schema is inferred again, and the memoized read has the same
    schema as fresh inference for every table."""
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    work = str(tmp_path)
    path = os.path.join(work, "region.parquet")
    spark.createDataFrame([(1, "a")], "r_regionkey long, r_name string").write.parquet(path)
    n1, first = jobs("load-table-1", lambda: load_table(spark, "region", work))
    n2, again = jobs("load-table-2", lambda: load_table(spark, "region", work))
    assert n1 >= 1 and n2 == 0, (n1, n2)
    assert again.schema == first.schema and again.collect() == [(1, "a")]

    spark.createDataFrame([(2, 2.5, "x")], "a long, b double, c string").write.mode(
        "overwrite"
    ).parquet(path)
    changed = load_table(spark, "region", work)
    assert changed.schema.simpleString() == "struct<a:bigint,b:double,c:string>"
    assert changed.collect() == [(2, 2.5, "x")]

    _schema_memo(spark).clear()
    for name in TABLES:
        fresh = load_table(spark, name, sf_dir)
        n, memoized = jobs(f"load-table-{name}", lambda: load_table(spark, name, sf_dir))
        assert n == 0 and memoized.schema == fresh.schema, name


def test_csv_reader(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,name\n1,a\n2,b\n")
    df = read_csv(spark, str(p), "id long, name string")
    assert {(r["id"], r["name"]) for r in df.collect()} == {(1, "a"), (2, "b")}


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    from arc_kinesis_tagging_spark.sources.tables import load_table

    orders = load_table(spark, "orders", sf_dir)
    out = str(tmp_path / "orders_part")
    write_partitioned_parquet(orders, out, ["o_orderstatus"])
    back = spark.read.parquet(out)
    pruned = back.filter(F.col("o_orderstatus") == "F")
    # partition pruning: only files under o_orderstatus=F are read
    files = pruned.select(F.input_file_name()).distinct().collect()
    assert files and all("o_orderstatus=F" in r[0] for r in files)
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_upsert_by_key_parquet(spark, tmp_path):
    path = str(tmp_path / "docs")
    v1 = spark.createDataFrame(
        [("a", 1, "first"), ("b", 1, "first")], "id string, version int, body string"
    )
    upsert_by_key_parquet(spark, v1, path, "id", "version")
    v2 = spark.createDataFrame(
        [("b", 2, "updated"), ("c", 1, "new")], "id string, version int, body string"
    )
    upsert_by_key_parquet(spark, v2, path, "id", "version")
    got = {
        r["id"]: (r["version"], r["body"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {"a": (1, "first"), "b": (2, "updated"), "c": (1, "new")}


def test_parquet_schema_evolution_reads(spark, tmp_path):
    """Additive schema evolution over a parquet directory: day-1 files
    lack the column day-2 files added. mergeSchema must union the
    schemas with null fill; pinning the stabilized schema must give the
    same rows WITHOUT the footer sweep; and a filter on the new column
    must still allow the old files' rows to be reasoned about
    (IS NULL selects exactly the day-1 rows)."""
    from arc_kinesis_tagging_spark.sources.readers import read_parquet_evolving

    d = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(3, "c", 0.5), (4, "d", 0.7)], "id long, name string, score double"
    ).write.mode("append").parquet(d)

    merged = read_parquet_evolving(spark, d)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: 0.5, 4: 0.7}

    pinned = read_parquet_evolving(
        spark, d, "id long, name string, score double"
    )
    assert {r["id"]: r["score"] for r in pinned.collect()} == rows
    old_only = {r["id"] for r in pinned.filter("score IS NULL").collect()}
    assert old_only == {1, 2}


def test_orc_roundtrip_and_evolution(spark, tmp_path):
    """ORC round-trip preserves values exactly, and the reader honors
    the same additive-evolution contract as parquet: a pinned
    expected_schema null-fills columns absent from older files, and
    mergeSchema unions per-file schemas."""
    from arc_kinesis_tagging_spark.sources.readers import read_orc, write_orc

    old = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    )
    new = spark.createDataFrame(
        [(3, "c", 30.0)], "id long, name string, score double"
    )
    p = str(tmp_path / "orc-evolve")
    write_orc(old, p)
    new.write.mode("append").option("compression", "zlib").orc(p)

    pinned = read_orc(
        spark, p, "id long, name string, score double"
    ).collect()
    assert {(r["id"], r["name"], r["score"]) for r in pinned} == {
        (1, "a", None), (2, "b", None), (3, "c", 30.0),
    }
    merged = read_orc(spark, p)
    assert set(merged.columns) == {"id", "name", "score"}
    assert merged.count() == 3
