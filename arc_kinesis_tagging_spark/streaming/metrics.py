"""Streaming observability: a StreamingQueryListener that turns
micro-batch progress events into a queryable metrics table.

The reference consumer has zero observability — its loop prints
nothing and swallows every exception (app.py:71-75), so the only
production signal was Kinesis iterator-age alarms. Here every
micro-batch's throughput/latency lands in a thread-safe in-memory
log (and optionally a parquet sink), so lag is visible from inside
the job: rows/sec per batch, batch duration and the time of each of
its phases, state size, watermark progress.

At scale this is the shape Spark itself recommends: listener events
arrive on the driver regardless of cluster size (they are tiny
summaries, not data), and persisting them to a metrics table makes
SLO dashboards a plain SQL query over parquet.
"""

from __future__ import annotations

import json
import threading
from typing import Any

from pyspark.sql.streaming import StreamingQueryListener


# progress ``durationMs`` key -> column. ``triggerExecution`` is the
# whole micro-batch; the others are its phases.
DURATION_COLUMNS = {
    "triggerExecution": "batch_duration_ms",
    "latestOffset": "latest_offset_ms",
    "getBatch": "get_batch_ms",
    "queryPlanning": "query_planning_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}
# ``stateOperators`` entry key -> column, summed over the operators
STATE_COLUMNS = {
    "numRowsTotal": "state_rows_total",
    "memoryUsedBytes": "state_memory_used_bytes",
}


class BatchMetricsListener(StreamingQueryListener):
    """Collects per-batch metrics for every streaming query in the
    session: throughput, the full ``durationMs`` breakdown (a missing
    phase reads 0) and the state size summed over the stateful
    operators. ``snapshot()`` returns a list of dicts; ``to_df(spark)``
    a DataFrame for SQL over the history."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._rows: list[dict[str, Any]] = []

    # StreamingQueryListener contract -------------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        # progress.json is the stable cross-version surface
        d = json.loads(p.json) if hasattr(p, "json") else {}
        durations = d.get("durationMs") or {}
        state_ops = d.get("stateOperators") or []
        row = {
            "query_id": str(d.get("id", "")),
            "batch_id": int(d.get("batchId", -1)),
            "num_input_rows": int(d.get("numInputRows", 0) or 0),
            "input_rows_per_sec": float(d.get("inputRowsPerSecond", 0.0) or 0.0),
            "process_rows_per_sec": float(d.get("processedRowsPerSecond", 0.0) or 0.0),
            "watermark": str((d.get("eventTime") or {}).get("watermark", "")),
        }
        for key, col in DURATION_COLUMNS.items():
            row[col] = int(durations.get(key, 0) or 0)
        for key, col in STATE_COLUMNS.items():
            row[col] = sum(int(op.get(key, 0) or 0) for op in state_ops)
        with self._lock:
            self._rows.append(row)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    # Consumption ----------------------------------------------------------
    def snapshot(self) -> list[dict[str, Any]]:
        with self._lock:
            return [dict(r) for r in self._rows]

    def totals(self) -> dict[str, Any]:
        rows = self.snapshot()
        n = sum(r["num_input_rows"] for r in rows)
        ms = sum(r["batch_duration_ms"] for r in rows)
        return {
            "batches": len(rows),
            "rows": n,
            "wall_ms": ms,
            "rows_per_sec": (n / (ms / 1000.0)) if ms else 0.0,
        }

    def to_df(self, spark):
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("query_id", StringType()),
                StructField("batch_id", LongType()),
                StructField("num_input_rows", LongType()),
                StructField("input_rows_per_sec", DoubleType()),
                StructField("process_rows_per_sec", DoubleType()),
                StructField("watermark", StringType()),
            ]
            + [
                StructField(col, LongType())
                for col in (*DURATION_COLUMNS.values(), *STATE_COLUMNS.values())
            ]
        )
        return spark.createDataFrame(self.snapshot(), schema)


# --- admission-profile analysis (reference R4/R5 parity) ----------------------
# The reference's only performance constants are its GetRecords
# Limit=20 (app.py:22) and 3-second poll sleep (app.py:29): a hard
# per-shard admission ceiling of 20/3 ≈ 6.67 rec/s, ~13.3 rec/s on the
# two-shard stream BASELINE.md derives its number from. The connector
# reproduces that profile with maxRecordsPerShardPerBatch=20 plus a
# 3-second processingTime trigger; these helpers turn observed
# per-batch per-shard counts into the sustained-rate numbers that
# prove it (tests/test_streaming_metrics.py).

REFERENCE_GETRECORDS_LIMIT = 20
REFERENCE_POLL_SECONDS = 3.0


def shard_admission_profile(batches) -> dict:
    """Summarize per-shard admission from (batch_id, shard_id, n_rows)
    observations: total records, batch count, the max and the modal
    full-batch size — the numbers a backpressure parity check needs."""
    per_shard: dict = {}
    for _bid, shard, n in batches:
        s = per_shard.setdefault(
            shard, {"records": 0, "batches": 0, "max_per_batch": 0,
                    "full_batches": {}}
        )
        s["records"] += n
        s["batches"] += 1
        s["max_per_batch"] = max(s["max_per_batch"], n)
        s["full_batches"][n] = s["full_batches"].get(n, 0) + 1
    return per_shard


def sustained_shard_rate(
    profile_entry: dict, poll_seconds: float = REFERENCE_POLL_SECONDS
) -> float:
    """Sustained rec/s for one shard's profile at a given poll cadence:
    records admitted over the window the poll loop took to admit them.
    At the admission ceiling (every batch full) this equals
    limit / poll_seconds — the reference's 6.67 rec/s/shard."""
    if not profile_entry["batches"]:
        return 0.0
    return profile_entry["records"] / (profile_entry["batches"] * poll_seconds)
