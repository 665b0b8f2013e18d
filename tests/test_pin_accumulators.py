"""Pinned intermediates are materialized before any consumer job runs.

A lazy ``localCheckpoint(eager=False)`` pin read by several jobs of one
action (a broadcast collect next to shuffle-map stages) is checkpointed
by whichever job ends first, which truncates the pin's lineage while
the other jobs' tasks still carry it. The SQL-metric accumulators of
the truncated plan are then unreachable on the driver; once a GC runs,
the ContextCleaner drops them and every later task completion logs
``attempted to access non-existent accumulator`` from the DAGScheduler
(the metrics of those plan nodes are lost with it). Eager pins run
their own job inside the builder, so no consumer ever carries the
pre-checkpoint lineage.
"""

import threading
import time

import pytest

from arc_kinesis_tagging_spark.plans.registry import QUERIES

# queries whose pins are read by concurrent jobs of one action; each
# logged the accumulator errors under a forced-GC loop with lazy pins
SHARED_PIN_QUERIES = [
    "q_dedup_vhash",
    "q_dedup_vhash_incremental",
    "q_minhash_vs_exact",
    "q_corpus_pipeline5",
]


def _pending_pins(df):
    """RDDs under df's plan that are marked for a local checkpoint
    which has not run yet (a lazy pin)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    pending = []
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() != "LogicalRDD":
            continue
        rdd = leaf.rdd()
        if rdd.isLocallyCheckpointed() and not rdd.isCheckpointed():
            pending.append(rdd.id())
    return pending


@pytest.mark.parametrize("name", SHARED_PIN_QUERIES)
def test_builder_leaves_no_lazy_pin(spark, sf_dir, name):
    assert _pending_pins(QUERIES[name].builder(spark, sf_dir)) == []


def test_no_lost_accumulators_under_gc(spark, sf_dir):
    """Run the shared-pin queries while a thread forces a driver GC
    every 0.3 s (so any unreachable accumulator is cleaned at once) and
    count the DAGScheduler's lost-accumulator errors in the log."""
    jvm = spark._jvm
    log4j = jvm.org.apache.logging.log4j
    ctx = log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    writer = jvm.java.io.StringWriter()
    appender = log4j.core.appender.WriterAppender.createAppender(
        log4j.core.layout.PatternLayout.createDefaultLayout(),
        None, writer, "lost-accumulator-probe", False, True,
    )
    appender.start()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    done = threading.Event()

    def gc_loop():
        while not done.wait(0.3):
            jvm.System.gc()

    gc = threading.Thread(target=gc_loop, daemon=True)
    gc.start()
    try:
        for name in SHARED_PIN_QUERIES:
            QUERIES[name].builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        time.sleep(1.0)  # let the scheduler finish logging task ends
    finally:
        done.set()
        gc.join(timeout=10)
        root.removeAppender("lost-accumulator-probe")
        ctx.updateLoggers()
        appender.stop()
    assert writer.toString().count("non-existent accumulator") == 0
