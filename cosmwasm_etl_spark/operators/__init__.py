"""Relational operator library — the Spark-first re-expressions of the
reference's SQL/Go dataflow operators (SURVEY.md §2.3-§2.7)."""

from cosmwasm_etl_spark.operators.asof import asof_join
from cosmwasm_etl_spark.operators.dedup_window import latest_wins_agg
from cosmwasm_etl_spark.operators.ingest_dedup import IngestNearDupIndex
from cosmwasm_etl_spark.operators.rank_anti import multiset_anti_join
from cosmwasm_etl_spark.operators.topk import first_per_key, top1_per_key
from cosmwasm_etl_spark.operators.validation import full_outer_diff

__all__ = [
    "asof_join",
    "IngestNearDupIndex",
    "latest_wins_agg",
    "multiset_anti_join",
    "first_per_key",
    "top1_per_key",
    "full_outer_diff",
]
