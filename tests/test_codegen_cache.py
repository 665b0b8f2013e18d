"""The session's generated-code cache holds a repeated query set: a set
with more than Spark's default 100 classes recompiled every class on
every pass, because an LRU cache smaller than a cyclic working set
misses on every access."""

from arc_kinesis_tagging_spark.plans.registry import QUERIES

# In a fresh process at sf0.001 these compile 134 distinct classes, and
# a second run of any one of them compiles none (q_text_repetition is
# left out: its second run in a process sometimes compiles 4 new ones).
QUERY_SET = [
    "q_tpch_q3ish",
    "q_tpch_q5ish",
    "q_join_smj",
    "q_join_asof",
    "q_window_frame",
    "q_window_session",
    "q_agg_salted",
    "q_events_funnel_k",
]


def _run_set(spark, sf_dir):
    for name in QUERY_SET:
        spark.catalog.clearCache()
        QUERIES[name].builder(spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_repeated_query_set_compiles_nothing_again(spark, sf_dir):
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    _run_set(spark, sf_dir)
    before = compiles.getCount()
    _run_set(spark, sf_dir)
    assert compiles.getCount() - before == 0
