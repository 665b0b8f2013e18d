"""Plain-Python recomputation of what the tag stream must produce.

Given the generated records, the per-shard sequence numbers they were
published under and the micro-batch boundaries the engine chose (the
start/end offsets of each progress report), this derives the final
keyed store and the dead-letter rows without Spark:

- a record reaches the sink iff it is a gzip'd JSON object with
  ``operation == "insert-story"`` and ``published`` true;
- per batch, each distinct ``_id`` is keyed by its largest ``seq``;
- ids present in the store are tagged: ``tags`` becomes the de-duplicated
  seed tags plus the autotag if absent (``array_union``), ``seq`` the
  batch seq + 1, and the store keeps the highest ``seq`` per id;
- ids absent from the store become one dead-letter row per batch,
  ``(_id, seq)`` with the batch's max seq.
"""

from __future__ import annotations

from collections import Counter

from fixtures import AUTOTAG


def shard_name(shard: int) -> str:
    return f"shardId-{shard:012d}"


class StreamLog:
    """Records in publish order per shard; ``seq`` is the index."""

    def __init__(self) -> None:
        self.by_shard: dict[str, list] = {}

    def append(self, records) -> None:
        for r in records:
            self.by_shard.setdefault(shard_name(r.shard), []).append(r)

    def totals(self) -> dict[str, int]:
        return {s: len(rs) for s, rs in self.by_shard.items()}

    def batch(self, start: dict, end: dict) -> list[tuple]:
        """(record, seq) pairs in the offset range [start, end)."""
        out = []
        for shard, hi in end.items():
            rs = self.by_shard.get(shard, [])
            for seq in range(int((start or {}).get(shard, 0)), int(hi)):
                out.append((rs[seq], seq))
        return out


def batch_keys(batch) -> dict[str, int]:
    """Distinct sink keys of one batch with their max seq."""
    keys: dict[str, int] = {}
    for rec, seq in batch:
        if rec.kind == "story":
            keys[rec.doc_id] = max(seq, keys.get(rec.doc_id, -1))
    return keys


def _union_tag(tags):
    out = []
    for t in list(tags or []) + [dict(AUTOTAG)]:
        if t not in out:
            out.append(t)
    return out


def expected_outputs(seed_rows: dict, batches):
    """``seed_rows``: {_id: (tags, seq)} of the seeded store.
    Returns (store {_id: (tags, seq)}, dead letters Counter of
    (_id, seq), tagged upserts, dead-lettered rows)."""
    store = {k: (list(v[0]) if v[0] is not None else None, v[1]) for k, v in seed_rows.items()}
    dead: Counter = Counter()
    tagged = 0
    for batch in batches:
        for doc_id, seq in batch_keys(batch).items():
            if doc_id in seed_rows:
                tagged += 1
                tags, cur = store[doc_id]
                if seq + 1 > cur:
                    store[doc_id] = (_union_tag(seed_rows[doc_id][0]), seq + 1)
            else:
                dead[(doc_id, seq)] += 1
    return store, dead, tagged, sum(dead.values())
