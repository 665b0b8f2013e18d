"""Benchmark of the arc_kinesis_tagging_spark engine, run from the
repository root:

    python3 perfbench/run.py --workload tag_stream --seed 1 --seconds 20 --trace 0

Workloads (see README.md): ``tag_stream`` and ``corpus_curation``. The benchmark sizes Spark from the host
(``local[nproc]``, a driver heap of a quarter of RAM up to 2 GiB),
generates its inputs from the seed, warms up, then repeats the
workload's round (one micro-batch, or one pass over the queries) for
``--seconds``. It reports medians over the rounds, checks every output
outside the rounds and prints the end-to-end metrics (``--trace 0``)
or the per-layer metrics (``--trace 1``) as one JSON object on the
last line of stdout. Traced runs also write every per-layer number to
``.perfbench/out/trace-<workload>-<seed>.json``.

Only the package's public functions are called; the per-layer numbers
come from Spark's ``StreamingQueryProgress`` and ``StatusTracker``,
``/proc`` and the files the sink writes. All scratch files live under
``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "arc_kinesis_tagging_spark"
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("tag_stream", "corpus_curation")
SF = 0.1

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "cpu_s": "s",
    "rec_per_s": "1/s",
    "batch_latency_p50_s": "s",
    "batch_latency_p75_s": "s",
}

# name -> (unit, end-to-end metric(s) it should move)
_STREAM_LAYERS = {
    "kinesis_source.read_amplification": ("ratio", "rec_per_s"),
    "stream.latest_offset_ms.p50": ("ms", "batch_latency_p50_s"),
    "stream.query_planning_ms.p50": ("ms", "batch_latency_p50_s"),
    "stream.add_batch_ms.p50": ("ms", "batch_latency_p50_s"),
    "stream.wal_commit_ms.p50": ("ms", "batch_latency_p50_s"),
    "stream.commit_offsets_ms.p50": ("ms", "batch_latency_p50_s"),
    "pipeline.decode_s": ("s", "rec_per_s"),
    "sinks.write_batch_s.p50": ("s", "batch_latency_p50_s"),
    "sinks.jobs_per_batch": ("count", "batch_latency_p50_s"),
    "sinks.tasks_per_batch": ("count", "batch_latency_p50_s"),
    "sinks.tagged": ("count", "outcome"),
    "sinks.dead_lettered": ("count", "outcome"),
    "sinks.tagged_share": ("share", "outcome"),
    "sources.store_bytes_written_per_batch": ("bytes", "batch_latency_p75_s"),
    "sources.write_amplification": ("ratio", "batch_latency_p75_s"),
}
_COMMON_LAYERS = {
    "cpu_s.driver": ("s", "cpu_s"),
    "cpu_s.jvm": ("s", "cpu_s"),
    "cpu_s.py_workers": ("s", "cpu_s"),
    "idle_core_share": ("share", "run_s"),
    "py_workers.spawned": ("count", "setup_s, batch_latency_p75_s"),
    # memory of the whole tree; kept off the bounded end-to-end list
    # because the JVM heap's growth makes it spread ~0.3 between runs
    "peak_rss_mb": ("MB", "memory"),
}


def _plan_layers():
    from batch import CORPUS_QUERIES

    out = {}
    for q in CORPUS_QUERIES:
        out[f"plans.{q}.build_s"] = ("s", "run_s")
        out[f"plans.{q}.exec_s"] = ("s", "run_s")
        out[f"plans.{q}.jobs"] = ("count", "run_s")
        out[f"plans.{q}.tasks"] = ("count", "run_s")
    return out


def per_layer() -> dict[str, tuple[str, str]]:
    """Every per-layer metric: name -> (unit, end-to-end metric it moves).
    A traced run prints all of them; a layer its workload does not run
    reads 0."""
    return {**_COMMON_LAYERS, **_STREAM_LAYERS, **_plan_layers()}


def host_env(work: str) -> dict:
    """Size Spark from the host and pin the program's own defaults:
    knobs that would change them are removed from the environment."""
    nproc = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = min(2048, ram_mb // 4)
    for k in list(os.environ):
        if k.startswith("AKT_") or k in (
            "SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SF_DIR",
            "KINESIS_EMU_DEBUG_LOG",
        ):
            del os.environ[k]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        # keep the JVM's scratch inside the work dir too
        "JAVA_TOOL_OPTIONS": " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
        ),
    })
    return {"nproc": nproc, "ram_mb": ram_mb, "driver_mem": f"{heap_mb}m", "sf": SF}


def make_workload(name: str, work: str, seed: int, trace: bool):
    from batch import CORPUS_QUERIES, BatchPass
    from tagstream import TagStream

    if name == "tag_stream":
        return TagStream(work, seed, trace)
    return BatchPass(CORPUS_QUERIES, SF, work, seed, trace)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    import procstat

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while len(procstat.descendants(os.getpid())) > 1:
        if time.time() > deadline:
            for pid in procstat.descendants(os.getpid()):
                if pid != os.getpid():
                    os.kill(pid, 9)
            break
        time.sleep(0.1)


def median_untraced_run_s(workload: str) -> float | None:
    path = os.path.join(STATE, "out", "history.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    xs = [r["run_s"] for r in runs if r["workload"] == workload and not r["trace"]]
    return statistics.median(xs) if xs else None


def run(args) -> int:
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    host = host_env(work)
    sys.path.insert(0, ROOT)
    import procstat
    from stats import percentile, ratio

    sampler = procstat.Sampler().start()
    wl = make_workload(args.workload, work, args.seed, bool(args.trace))
    spark = None
    try:
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t

        from arc_kinesis_tagging_spark.session import get_session

        t = time.perf_counter()
        spark = get_session("perfbench")
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up(spark)
        warm_s = time.perf_counter() - t

        cpu0, busy0 = sampler.cpu_split(), procstat.machine_busy_s()
        w0 = time.perf_counter()
        out = wl.measure(spark, args.seconds)
        wall = time.perf_counter() - w0
        cpu1, busy1 = sampler.cpu_split(), procstat.machine_busy_s()

        failed, notes = wl.check(spark, out["attempted"], args.record_hashes)
        if args.trace:
            wl.trace_layers(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    n_rounds = len(out["rounds"])
    cpu = {k: (cpu1[k] - cpu0[k]) / out["window_rounds"] for k in cpu0}
    e2e = {
        "setup_s": gen_s + session_s + warm_s,
        "run_s": statistics.median(r[0] for r in out["rounds"]),
        "cpu_s": statistics.median(r[1] for r in out["rounds"]),
        "rec_per_s": ratio(out["records"], out["wall_s"]),
        "batch_latency_p50_s": percentile(out["latencies_s"], 50),
        "batch_latency_p75_s": percentile(out["latencies_s"], 75),
    }
    layer = {name: 0.0 for name in per_layer()}
    layer.update(wl.layer)
    layer.update({
        "cpu_s.driver": cpu["driver"],
        "cpu_s.jvm": cpu["jvm"],
        "cpu_s.py_workers": cpu["py_workers"],
        "idle_core_share": 1.0 - ratio(busy1 - busy0, wall * host["nproc"]),
        "py_workers.spawned": float(len(sampler.worker_pids)),
        "peak_rss_mb": sampler.peak_rss_mb,
    })
    attempted = out["attempted"]
    print(f"host: nproc={host['nproc']} ram_mb={host['ram_mb']} "
          f"driver_mem={host['driver_mem']} sf={host['sf']}")
    print(f"setup: generate {gen_s:.2f}s, session {session_s:.2f}s, "
          f"warm-up {warm_s:.2f}s ({wl.setup_note})")
    for n in notes:
        print(f"FAILED {n}")
    print(f"timed: {n_rounds} rounds in {wall:.2f}s; round wall "
          + " ".join(f"{r[0]:.2f}" for r in out["rounds"]) + "; round cpu "
          + " ".join(f"{r[1]:.2f}" for r in out["rounds"]))
    print(f"failed_share {ratio(failed, attempted)} ({failed}/{attempted} operations)")

    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    if args.trace:
        base = median_untraced_run_s(args.workload)
        overhead = None if base is None else e2e["run_s"] - base
        print(f"tracing overhead: {overhead} s (traced run_s minus the untraced median)")
        side = {
            "workload": args.workload, "seed": args.seed, "host": host,
            "end_to_end": e2e, "per_layer": layer,
            "layer_moves": {k: v[1] for k, v in per_layer().items()},
            "tracing_overhead_s": overhead, "failed": failed,
            "attempted": attempted, "notes": notes,
            "latencies_s": out["latencies_s"], "rounds": out["rounds"],
        }
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(side, fh, indent=1)
        print(f"per-layer metrics written to {os.path.relpath(path, ROOT)}")
    with open(os.path.join(out_dir, "history.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                             "trace": bool(args.trace), **e2e}) + "\n")

    if args.trace:
        units = {k: v[0] for k, v in per_layer().items()}
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20,
                   help="how long the timed rounds run (at least a few rounds run)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-hashes", action="store_true",
                   help="check results against the DuckDB oracles, then store "
                        "their hashes in expected.json")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
