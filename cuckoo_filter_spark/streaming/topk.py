"""Windowed streaming frequent items — one Misra-Gries sketch per
event-time tumbling window, emitting each window's qualifying items
(running) every micro-batch.

The streaming twin of sketches/freq.py's batch MG surface, and the
third instance of the repo's windowed-state pattern (after
streaming/windowed.py HLL and streaming/sessions.py): state per window
is ONE mergeable MG blob, late rows within the watermark fold in like
any other row, rows beyond it are dropped by Spark upstream, and the
blob is EVICTED when the watermark passes the window end (event-time
timeout — a closed window can never receive rows, and without
eviction a long stream accumulates one blob per window forever).
State lives in applyInPandasWithState; the per-batch fold/emit step is
``run_windowed_mg_batches``.

Output rows carry the MG bounds ``count_lo <= f <= count_hi`` plus the
batch's running ``updates``; when the window's distinct-item count
stays under ``k`` the sketch is EXACT (``count_lo == count_hi == f``)
— which is what makes the contract query a strict-equality oracle.
Emission rule: every tracked item whose GUARANTEED count (``count_lo``)
is >= ``min_count``; the threshold-vs-bounds semantics match
MGSketch.guaranteed_at_least.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cuckoo_filter_spark.sketches.freq import MGSketch
from cuckoo_filter_spark.streaming.windowed import _window_end_ms, _windowed

OUT_SCHEMA = ("window_start timestamp, item string, count_lo bigint, "
              "count_hi bigint, updates bigint")
STATE_SCHEMA = "blob binary, updates bigint"


def run_windowed_mg_batches(
    pdfs: Iterable[pd.DataFrame],
    item_col: str,
    k: int,
    min_count: int,
    window_start,
    blob: bytes | None,
    updates: int,
) -> tuple[bytes, int, pd.DataFrame]:
    """Micro-batch core: fold this batch's items into the window's MG
    sketch, emit every item with
    ``count_lo >= min_count`` (sorted by item for deterministic
    output). NULL items are excluded — same null semantics as the batch
    sketches and the windowed HLL core."""
    mg = MGSketch.from_bytes(bytes(blob)) if blob is not None else MGSketch(k=k)
    n = 0
    for pdf in pdfs:
        vals = pdf[item_col].dropna()
        if len(vals) == 0:
            continue
        mg.update(vals.astype(str))
        n += len(vals)
    updates += n
    hits = sorted(mg.guaranteed_at_least(min_count).items())
    frame = pd.DataFrame({
        "window_start": [window_start] * len(hits),
        "item": [it for it, _ in hits],
        "count_lo": [lo for _, lo in hits],
        "count_hi": [lo + mg.offset for _, lo in hits],
        "updates": [updates] * len(hits),
    })
    return mg.to_bytes(), updates, frame


def windowed_frequent_items(
    stream_df: DataFrame,
    ts_col: str,
    item_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    k: int = 1024,
    min_count: int = 2,
) -> DataFrame:
    """stream → (window_start, item, count_lo, count_hi, updates) rows
    per micro-batch (update mode): each window's items whose guaranteed
    count has reached ``min_count``. Take the max-``updates`` batch per
    window for the final per-window snapshot. Exact (lo == hi == true
    frequency) while the window's distinct items stay <= k."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    window_ms = int(pd.Timedelta(window).total_seconds() * 1000)
    tz = stream_df.sparkSession.conf.get("spark.sql.session.timeZone")
    # stringify JVM-side: batch-composition-independent item identity —
    # an integral column with NULLs in SOME micro-batches would reach
    # pandas as float64 there ("402.0") and int64 elsewhere ("402"),
    # silently splitting one item's count across two MG keys (the
    # int-with-nulls hazard sketches/freq.py documents; the oracle
    # CASTs to VARCHAR, which Spark's cast matches for integers)
    stream_df = stream_df.withColumn(item_col, F.col(item_col).cast("string"))
    windowed = _windowed(stream_df, ts_col, window, watermark)

    def agg_fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        blob, updates = state.get if state.exists else (None, 0)
        new_blob, updates, frame = run_windowed_mg_batches(
            pdfs, item_col, k, min_count, key[0],
            bytes(blob) if blob is not None else None, int(updates))
        state.update((bytearray(new_blob), updates))
        state.setTimeoutTimestamp(_window_end_ms(key[0], window_ms, tz))
        if len(frame):
            yield frame

    return windowed.groupBy("__ws").applyInPandasWithState(
        agg_fn, OUT_SCHEMA, STATE_SCHEMA, "update",
        GroupStateTimeout.EventTimeTimeout,
    )

