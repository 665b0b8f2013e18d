"""Fixed cost of a Python worker session, per task.

Runs one job of 40 one-row ``mapInArrow`` tasks on already-started
(reused) Python workers, then the same 40 tasks as a JVM-only job, and
prints wall and machine-busy CPU (``/proc/stat``) per task for each,
plus how many ``zipimporter`` finders a worker holds and their class.

    python tools/pysession_cost.py [TASKS]

Run it on an otherwise idle machine: the CPU figure counts every process.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arc_kinesis_tagging_spark.session import get_session


def busy_s() -> float:
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:8]]
    # user nice system idle iowait irq softirq: drop idle and iowait
    return (sum(f) - f[3] - f[4]) / os.sysconf("SC_CLK_TCK")


def finders(batches):
    import zipimport

    import pyarrow as pa

    zips = [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)]
    classes = ",".join(sorted({type(f).__name__ for f in zips}))
    for b in batches:
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()] * b.num_rows, "zips": [len(zips)] * b.num_rows,
             "cls": [classes] * b.num_rows})


def timed(run, tasks: int) -> tuple[float, float]:
    w0, c0 = time.perf_counter(), busy_s()
    run()
    return (time.perf_counter() - w0) / tasks, (busy_s() - c0) / tasks


def main() -> None:
    tasks = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    spark = get_session("pysession-cost", **{"spark.ui.showConsoleProgress": "false"})
    df = spark.range(tasks, numPartitions=tasks)
    schema = "pid long, zips long, cls string"
    py = lambda: df.mapInArrow(finders, schema).collect()  # noqa: E731
    jvm = lambda: df.selectExpr("id * 2 AS x").collect()  # noqa: E731
    py(), jvm()  # start the workers and warm both paths
    rows = py()
    for name, run in (("python", py), ("jvm", jvm)):
        wall, cpu = timed(run, tasks)
        print(f"{name:6s} wall {wall:.3f} s/task  cpu {cpu:.3f} s/task")
    print(f"workers {len({r.pid for r in rows})}  zip finders "
          f"{sorted({r.zips for r in rows})}  class {sorted({r.cls for r in rows})}")
    spark.stop()


if __name__ == "__main__":
    main()
