"""Regression tests for edge-case crashes and silent-wrong-answer bugs:

- shingles()/fingerprint_expr() on documents shorter than the shingle
  width or entirely blank (Spark's ``sequence(1, 0)`` steps DOWN,
  producing [1, 0] — the naive formulation indexes past the array and
  aborts the whole job on one bad row);
- connected components over STRING node keys (sum-of-labels convergence
  silently compared None == None and exited one round early);
- zero-norm embeddings in cosine scoring (NaN sorts above every double
  in Spark, so unguarded zero vectors ranked #1 for every query).
"""

import pytest
from pyspark.sql import functions as F

from arc_kinesis_tagging_spark.functions.text import fingerprint_expr, shingles
from arc_kinesis_tagging_spark.functions.vectors import cosine_similarity
from arc_kinesis_tagging_spark.operators.clusters import connected_components
from arc_kinesis_tagging_spark.operators.dedup import ngram_jaccard_pairs
from arc_kinesis_tagging_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_bruteforce_np,
)


def test_shingles_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "   "), (4, "one two three four")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", shingles(F.col("text"), 3).alias("sh")
        ).collect()
    }
    assert rows[1] == []
    assert rows[2] == []
    assert rows[3] == []
    assert rows[4] == ["one two three", "two three four"]


def test_ngram_jaccard_survives_short_docs(spark):
    # ADVICE repro: shingle_n=3 over a corpus containing 'a b' used to
    # abort the whole job with INVALID_PARAMETER_VALUE.START.
    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "the quick brown fox jumps"),
         (4, "the quick brown fox jumps")],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5, shingle_n=3).collect()
    assert {(r["key_a"], r["key_b"]) for r in pairs} == {(3, 4)}


def test_fingerprint_empty_and_blank_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "hello world"), (4, "hello world")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", fingerprint_expr(F.col("text")).alias("fp")).collect()
    }
    assert rows[1] == 0 and rows[2] == 0
    assert rows[3] == rows[4] != 0


def test_connected_components_string_keys(spark):
    # The reference domain's _id is a string; sum-based convergence
    # silently returned wrong components for non-numeric keys.
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "key_a string, key_b string",
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


@pytest.mark.parametrize("impl", [cosine_topk_bruteforce, cosine_topk_bruteforce_np])
def test_zero_norm_embedding_never_ranks_first(spark, impl):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0]), (4, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame([(100, [1.0, 0.0])], "query_id long, embedding array<double>")
    got = impl(corpus, q, k=4).orderBy("rank").collect()
    ranks = {r["vec_id"]: r["rank"] for r in got}
    assert ranks[1] == 1               # exact match wins
    assert ranks[3] == 4               # zero vector ranks LAST, not first
    assert all(r["cos_sim"] == r["cos_sim"] for r in got)  # no NaN


def test_zero_norm_cosine_expr_is_zero(spark):
    df = spark.createDataFrame([(1,)], "id long").select(
        cosine_similarity(
            F.array(F.lit(0.0), F.lit(0.0)), F.array(F.lit(1.0), F.lit(2.0))
        ).alias("cos")
    )
    assert df.collect()[0]["cos"] == 0.0


def test_registry_head_leads_canonical_order():
    """ALL_QUERIES holds every canonical query exactly once, with _HEAD
    as its prefix — bench.py's headline indexes QUERIES by name, so a
    dropped entry would KeyError there. A misspelled head name must
    raise rather than silently lose its place."""
    import arc_kinesis_tagging_spark.plans.registry as reg

    names = [q.name for q in reg.ALL_QUERIES]
    assert sorted(names) == sorted(q.name for q in reg._CANONICAL)
    assert len(set(names)) == len(names) == len(reg.QUERIES)
    assert names[: len(reg._HEAD)] == reg._HEAD
    with pytest.raises(KeyError, match="q_no_such_query"):
        reg._ordered([*reg._HEAD, "q_no_such_query"])
