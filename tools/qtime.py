"""Paired A/B timer for registry queries: the tool that decides whether
a ``bench.py --compare`` flag is a regression or host noise.

Times the named queries in THIS process with bench.py's methodology
(same warm-ups, ``run_once`` noop-sink timing, an untimed compile rep
for CODEC_HEAVY entries) and prints one line per query: the min wall
over the reps, the busy CPU seconds of that rep (``bench.with_cpu``),
and every rep's wall.

Usage:
    python tools/qtime.py [--reps N] [--sf DIR] q1 [q2 ...]

Protocol for a paired A/B against the parent commit:

    git worktree add ../parent HEAD~1
    for i in 1 2 3 4 5; do        # alternate which side runs first
        (cd ../parent && python tools/qtime.py q_flagged)
        python tools/qtime.py q_flagged
    done

Each run is a fresh process (a fresh JVM) on each side, so neither side
inherits the other's JIT, page-cache or Python-worker state. Both sides
must time the identical name list in the identical order: a query's
min depends on what ran before it in the same process (``q_tpch_q6ish``
read 0.93-1.22 s when timed first and about 0.30 s when ninth in a
16-query list, on a 4-core host at sf0.1), so numbers from different
lists or orders are not comparable. Record the per-side mins and cpus,
and how many pairs the change lost, in CHANGES.md.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arc_kinesis_tagging_spark.session import get_session
from bench import CODEC_HEAVY, run_once, with_cpu


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1
    spark = get_session("qtime")
    # same warm-ups as bench.py main(): JVM/parquet caches + the 32x
    # Python worker pool spin-up
    run_once(spark, "q_topk", sf_dir)
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).write.format("noop").mode("overwrite").save()
    for name in names:
        if name in CODEC_HEAVY:
            run_once(spark, name, sf_dir)  # untimed compile absorb
        ts = [with_cpu(run_once, spark, name, sf_dir) for _ in range(reps)]
        wall, cpu = min(ts)
        print(f"{name}: min={wall:.3f}  cpu={cpu:.2f}  "
              f"reps={[round(t, 3) for t, _ in ts]}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
