"""Structured Streaming / CDC layer (SURVEY.md §2.8 T1-T6)."""

from cdc_makanmana_spark.streaming.cdc import (
    dedup_within_watermark,
    latest_state,
    read_upsert_stream,
    upsert_to_parquet,
    windowed_agg_stream,
)
from cdc_makanmana_spark.streaming.joins import stream_stream_interval_join
from cdc_makanmana_spark.streaming.progress import ProgressTracker
from cdc_makanmana_spark.streaming.rollup import RollupMaintainer
from cdc_makanmana_spark.streaming.stateful import asof_enrich_stream, running_stats_per_key
from cdc_makanmana_spark.streaming.verdict_cache import VerdictCache

__all__ = [
    "read_upsert_stream",
    "latest_state",
    "windowed_agg_stream",
    "dedup_within_watermark",
    "upsert_to_parquet",
    "RollupMaintainer",
    "running_stats_per_key",
    "asof_enrich_stream",
    "stream_stream_interval_join",
    "ProgressTracker",
    "VerdictCache",
]
