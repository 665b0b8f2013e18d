"""The full query registry: SURVEY.md §2 operator inventory, one entry
per operator, each with its DuckDB oracle (or an explicit rows-only
note for non-SQL-expressible ops)."""

from __future__ import annotations

from arc_kinesis_tagging_spark.plans.common import Query
from arc_kinesis_tagging_spark.plans.llmops import LLMOPS_QUERIES
from arc_kinesis_tagging_spark.plans.pipeline_ops import PIPELINE_QUERIES
from arc_kinesis_tagging_spark.plans.quality_ops import QUALITY_QUERIES
from arc_kinesis_tagging_spark.plans.relational import RELATIONAL_QUERIES
from arc_kinesis_tagging_spark.plans.relational2 import RELATIONAL2_QUERIES
from arc_kinesis_tagging_spark.plans.relational3 import RELATIONAL3_QUERIES
from arc_kinesis_tagging_spark.plans.tpch2 import TPCH2_QUERIES

_CANONICAL: list[Query] = [
    *RELATIONAL_QUERIES,
    *RELATIONAL2_QUERIES,
    *RELATIONAL3_QUERIES,
    *LLMOPS_QUERIES,
    *PIPELINE_QUERIES,
    *QUALITY_QUERIES,
    *TPCH2_QUERIES,
]

_BY_NAME: dict[str, Query] = {q.name: q for q in _CANONICAL}
assert len(_BY_NAME) == len(_CANONICAL), "duplicate query names in registry"

# Registry order is the driver's correctness-check order, and the driver
# checks only the first 50 entries. _HEAD puts the queries whose code
# changed most recently first; every other query follows in _CANONICAL
# order.
_HEAD = [
    "q_admission_gate",
    "q_text_winnowing",
    "q_dedup_substring", "q_dedup_substring_clip",
    "q_dedup_jaccard_prefix", "q_dedup_containment",
    "q_quality_clf_train",
    "q_multimodal_decode", "q_multimodal_ppm", "q_multimodal_png",
    "q_multimodal_png_adam7", "q_multimodal_wav", "q_multimodal_thumbnail",
    "q_multimodal_y4m", "q_multimodal_catalog", "q_multimodal_gif",
    "q_multimodal_gif_anim", "q_multimodal_jpeg", "q_multimodal_jpeg420",
    "q_multimodal_png_palette", "q_multimodal_png16",
    "q_multimodal_jpeg_prog", "q_multimodal_png_gray",
    "q_multimodal_pipeline",
    "q_dedup_phash", "q_dedup_phash_incremental",
    "q_dedup_vhash", "q_dedup_vhash_incremental",
    "q_dedup_ahash", "q_dedup_ahash_incremental",
    "q_array_funcs", "q_date_funcs2", "q_regex_funcs", "q_url_funcs",
]


def _ordered(head: list[str]) -> list[Query]:
    """``_CANONICAL`` with the ``head`` names moved to the front. An
    unknown head name raises instead of silently losing its place."""
    missing = [n for n in head if n not in _BY_NAME]
    if missing:
        raise KeyError(f"registry head names unknown queries: {missing}")
    lead = set(head)
    return [_BY_NAME[n] for n in head] + [
        q for q in _CANONICAL if q.name not in lead
    ]


ALL_QUERIES: list[Query] = _ordered(_HEAD)

QUERIES: dict[str, Query] = {q.name: q for q in ALL_QUERIES}

assert len(QUERIES) == len(ALL_QUERIES), "duplicate query names in registry"
