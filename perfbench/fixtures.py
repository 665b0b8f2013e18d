"""Seeded input generators for the benchmark.

Everything here is pure numpy/pyarrow: no Spark session is needed, so
fixture generation stays a small, separately timed part of set-up.

Two families:

- ``write_tables``: the ``documents`` and ``embeddings`` tables, with
  the column names, types and value distributions of the engine's
  parquet test data; row counts scale with ``sf`` the same way.
- ``stream_records`` / ``store_table``: the tag stream. Gzip'd ANS JSON
  payloads with a mix of publish stories, non-publish operations, S3
  pointer strings and un-gunzippable blobs; doc ids are Zipf-skewed and
  part of the id space is absent from the keyed store.
"""

from __future__ import annotations

import gzip
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

AUTOTAG = {"slug": "kinesis-autotag", "text": "kinesis autotag"}
TAG_TYPE = pa.list_(pa.struct([("slug", pa.string()), ("text", pa.string())]))

# --------------------------------------------------------------------------
# corpus tables

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

TABLE_NAMES = ("documents", "embeddings")


def make_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    """``documents`` (word-soup text with 5% near-duplicates) and
    ``embeddings`` (random unit vectors, dim 64) at scale ``sf``."""
    rng = np.random.default_rng(seed)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    words = np.asarray(_WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(_WORDS), n)])
        for n in rng.integers(10, 101, n_docs)
    ]
    # near-duplicates: another document's text plus one token
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {
        "documents": pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(_LANGS, dtype=object)[
                rng.choice(len(_LANGS), n_docs, p=_LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
        }),
    }


def write_tables(out_dir: str, sf: float, seed: int = 42) -> int:
    """Write ``<out_dir>/<name>.parquet`` for each table; returns rows written."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows


# --------------------------------------------------------------------------
# tag stream


@dataclass(frozen=True)
class Record:
    """One generated stream record and what the pipeline should make of it.

    ``kind`` is ``story`` (publish story, reaches the sink), ``other``
    (well-formed but filtered: non-publish operation or unpublished),
    ``pointer`` (gzip'd S3 URL string) or ``garbage`` (not gzip)."""

    payload: bytes
    shard: int
    kind: str
    doc_id: str | None


def doc_ids(n_store: int, missing_share: float = 0.1) -> list[str]:
    """The id universe: the first ``n_store`` ids are in the store, the
    rest (``missing_share`` of the universe) are not."""
    n_all = int(round(n_store / (1.0 - missing_share)))
    return [f"story-{i:06d}" for i in range(n_all)]


def store_table(n_store: int, seed: int) -> pa.Table:
    """Seed contents of the keyed store: (_id, revision, tags, seq=0).
    Tags vary over the shapes the upsert handles: null, empty, other
    tags, a duplicated tag and the autotag already present."""
    rng = np.random.default_rng([seed, 1])
    ids = doc_ids(n_store)[:n_store]
    vocab = [{"slug": f"topic-{k}", "text": f"Topic {k}"} for k in range(8)]
    tags = []
    for r in rng.random(n_store):
        if r < 0.2:
            tags.append(None)
        elif r < 0.3:
            tags.append([])
        elif r < 0.35:
            tags.append([dict(AUTOTAG)])
        elif r < 0.4:
            t = vocab[int(rng.integers(0, 8))]
            tags.append([t, t])
        else:
            k = int(rng.integers(1, 4))
            tags.append([vocab[int(j)] for j in rng.choice(8, k, replace=False)])
    return pa.table({
        "_id": pa.array(ids),
        "revision": pa.array([f"r{int(x)}" for x in rng.integers(0, 50, n_store)]),
        "tags": pa.array(tags, TAG_TYPE),
        "seq": pa.array(np.zeros(n_store, dtype=np.int64)),
    })


def _gz(obj) -> bytes:
    return gzip.compress(
        (obj if isinstance(obj, str) else json.dumps(obj, sort_keys=True)).encode(),
        mtime=0,
    )


def stream_records(
    n: int, n_store: int, seed: int, shards: int = 4, first: int = 0
) -> list[Record]:
    """``n`` records numbered from ``first``; record ``i`` goes to shard
    ``i % shards`` so every shard holds the same share of the backlog.

    Mix: ~85% publish stories, ~10% non-publish operations, ~3% S3
    pointer strings, ~2% un-gunzippable blobs. Story ids follow a Zipf
    law over a seeded permutation of the id universe, so hot ids are
    re-tagged and ~10% of distinct ids miss the store."""
    rng = np.random.default_rng([seed, 2, first])
    ids = doc_ids(n_store)
    order = np.random.default_rng([seed, 3]).permutation(len(ids))
    ranks = np.minimum(rng.zipf(1.3, n) - 1, len(ids) - 1).tolist()
    kinds = rng.choice(4, n, p=[0.85, 0.10, 0.03, 0.02]).tolist()
    out = []
    for j in range(n):
        i = first + j
        shard = i % shards
        doc_id = ids[order[ranks[j]]]
        k = kinds[j]
        if k == 3:
            blob = bytes(rng.integers(0, 256, 24, dtype=np.uint8))
            out.append(Record(b"\x00\x01" + blob, shard, "garbage", None))
            continue
        if k == 2:
            url = f"s3://ans-oversize/{doc_id}/{i}.json"
            out.append(Record(_gz(url), shard, "pointer", None))
            continue
        publish = k == 0
        doc = {
            "id": doc_id,
            "operation": "insert-story" if publish or i % 2 else "delete-story",
            "published": publish or i % 2 == 0,
            "created": bool(i % 3 == 0),
            "type": "story",
            "trigger": {"referent_update": bool(i % 5 == 0)},
            "body": {"headlines": {"basic": f"headline {i}"}, "revision": f"v{i}"},
            "taxonomy": {"tags": [{"slug": "news", "text": "News"}]},
        }
        out.append(Record(_gz(doc), shard, "story" if publish else "other", doc_id))
    return out
