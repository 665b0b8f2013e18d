"""The batch workloads: repeated passes over a fixed list of registry queries.

Each operation is one query: ``QUERIES[name].builder(spark, sf_dir)``
(including whatever eager jobs the builder runs) followed by
``toPandas()``. The queries run in an order drawn from the seed: one
untimed pass warms the session, then timed passes repeat it as long as
the next one is expected to end within ``--seconds`` (at least
``MIN_PASSES``). Each pass is one round: its wall time and the
machine's busy CPU are taken around it.

The inputs do not depend on the seed, so every result has one right
answer. After each timed pass every result's row count and
order-insensitive hash must equal the ones in ``expected.json``; each
pass is hashed right after it, outside its round. Those
are written by ``--record-hashes``, which first compares every query
that has a DuckDB ``oracle`` SQL against it; some oracles take minutes
at sf0.1, too long to run on every benchmark run.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import statistics
import time

import fixtures
import procstat

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

MIN_PASSES = 2

CORPUS_QUERIES = (
    "q_dedup_embedding",
    "q_unigram_encode",
    "q_text_winnowing",
)


def canon_cell(v):
    """Engine-neutral text form of one result cell (exact: a float that
    differs in the last digit compares unequal)."""
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(canon_cell(x)) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canon_rows(pdf):
    """(sorted column names, rows sorted as text): an order-insensitive
    form of a pandas result."""
    cols = sorted(pdf.columns)
    rows = [tuple(canon_cell(r[c]) for c in cols) for r in pdf.to_dict("records")]
    return cols, sorted(rows, key=lambda t: tuple("" if x is None else x for x in t))


def result_hash(pdf) -> str:
    cols, rows = canon_rows(pdf)
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


class BatchPass:
    setup_note = "one untimed pass"

    def __init__(self, queries, sf, work, seed, trace) -> None:
        self.queries, self.sf = queries, sf
        self.sf_dir = os.path.join(work, f"sf{sf}")
        self.seed, self.trace = seed, trace
        self.order = random.Random(seed).sample(list(queries), len(queries))
        self.layer: dict[str, float] = {}
        self.results: dict = {}
        self.errors: dict[str, str] = {}
        self.notes: list[str] = []

    def generate(self) -> int:
        self.rows = fixtures.write_tables(self.sf_dir, self.sf)
        return self.rows

    def warm_up(self, spark) -> None:
        """One untimed pass: JIT, code generation and the Python worker
        pool are warm for the timed passes."""
        self._pass(spark, group=None)

    def measure(self, spark, seconds: float) -> dict:
        with open(EXPECTED_PATH) as fh:
            self.expected = json.load(fh)
        rounds, lat = [], {q: [] for q in self.order}
        build, execute = {q: [] for q in self.order}, {q: [] for q in self.order}
        t0 = time.perf_counter()
        while len(rounds) < MIN_PASSES or (
            time.perf_counter() - t0 + statistics.median(r[0] for r in rounds) <= seconds
        ):
            w, c = time.perf_counter(), procstat.machine_busy_s()
            times = self._pass(spark, group="perfbench" if self.trace else None)
            rounds.append((time.perf_counter() - w, procstat.machine_busy_s() - c))
            for q, (b, e) in times.items():
                build[q].append(b)
                execute[q].append(e)
                lat[q].append(b + e)
            self._check_pass(len(rounds))
        for q in self.order:
            self.layer[f"plans.{q}.build_s"] = statistics.median(build[q])
            self.layer[f"plans.{q}.exec_s"] = statistics.median(execute[q])
        if self.trace:
            self._count_jobs(spark, len(rounds))
        return {
            "rounds": rounds,
            "wall_s": sum(r[0] for r in rounds),
            "records": self.rows * len(rounds),
            # one figure per query: its median over the passes
            "latencies_s": [statistics.median(lat[q]) for q in self.order],
            "attempted": len(rounds) * len(self.order),
            "window_rounds": len(rounds),
        }

    def _pass(self, spark, group: str | None) -> dict[str, tuple[float, float]]:
        """Run every query once; {query: (build_s, collect_s)}."""
        from arc_kinesis_tagging_spark.plans.registry import QUERIES

        sc = spark.sparkContext
        times = {}
        self.results, self.errors = {}, {}
        for name in self.order:
            if group:
                sc.setJobGroup(f"{group}-{name}", name)
            t0 = time.perf_counter()
            try:
                df = QUERIES[name].builder(spark, self.sf_dir)
                t1 = time.perf_counter()
                self.results[name] = df.toPandas()
            except Exception as exc:  # one failing query must not end the pass
                self.errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                t1 = time.perf_counter()
            times[name] = (t1 - t0, time.perf_counter() - t1)
        if group:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return times

    def _count_jobs(self, spark, passes: int) -> None:
        tracker = spark.sparkContext.statusTracker()
        for name in self.order:
            jobs = tracker.getJobIdsForGroup(f"perfbench-{name}")
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    tasks += st.numCompletedTasks if st else 0
            self.layer[f"plans.{name}.jobs"] = len(jobs) / passes
            self.layer[f"plans.{name}.tasks"] = tasks / passes

    def _check_pass(self, n: int) -> None:
        """Compare one pass's results with ``expected.json``; one note per
        wrong or failed query."""
        self.notes += [f"pass {n} {q}: {e}" for q, e in self.errors.items()]
        for name, pdf in self.results.items():
            key = f"{name}@sf{self.sf}"
            seen = {"rows": len(pdf), "sha256": result_hash(pdf)}
            if self.expected.get(key) != seen:
                self.notes.append(f"pass {n} {name}: {seen} != recorded "
                                  f"{self.expected.get(key)}")

    def check(self, spark, attempted: int, record: bool = False) -> tuple[int, list[str]]:
        """Returns (failed query runs, one note per failure). With
        ``record``, the last pass is checked against the DuckDB oracles
        and its hashes are written to ``expected.json`` instead."""
        if not record:
            return len(self.notes), self.notes
        notes = [f"{q}: {e}" for q, e in self.errors.items()] + self._oracle_diffs()
        if not notes:
            expected = dict(self.expected)
            for name, pdf in self.results.items():
                expected[f"{name}@sf{self.sf}"] = {"rows": len(pdf),
                                                   "sha256": result_hash(pdf)}
            with open(EXPECTED_PATH, "w") as fh:
                json.dump(expected, fh, indent=1, sort_keys=True)
                fh.write("\n")
        return len(notes), notes

    def trace_layers(self, spark) -> None:
        """Nothing to add: the per-query layers are taken during the pass."""

    def _oracle_diffs(self) -> list[str]:
        import duckdb

        from arc_kinesis_tagging_spark.plans.registry import QUERIES

        con = duckdb.connect()
        con.execute("SET memory_limit='2GB'")
        con.execute("SET threads=2")
        con.execute(f"SET temp_directory='{os.path.join(self.sf_dir, 'duckdb')}'")
        for t in fixtures.TABLE_NAMES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        notes = []
        for name, pdf in self.results.items():
            oracle = QUERIES[name].oracle
            if oracle is not None and canon_rows(pdf) != canon_rows(con.execute(oracle).df()):
                notes.append(f"{name}: differs from its DuckDB oracle")
        con.close()
        return notes
