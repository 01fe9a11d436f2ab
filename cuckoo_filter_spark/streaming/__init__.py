"""Structured Streaming surface: stateful streaming dedup on
applyInPandasWithState (a cuckoo blob per shard as the group state) and
incremental filter builds (mergeable blobs make both natural)."""

from cuckoo_filter_spark.streaming.dedup import streaming_dedup
from cuckoo_filter_spark.streaming.incremental import incremental_filter_build
from cuckoo_filter_spark.streaming.windowed import windowed_distinct_count

__all__ = ["streaming_dedup", "incremental_filter_build",
           "windowed_distinct_count"]
