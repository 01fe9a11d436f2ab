"""Windowed streaming sketch aggregation — event-time tumbling windows
with watermark-based late-data handling, one mergeable sketch per
(window, group) held in state.

Pattern (SURVEY.md §2.2 streaming row): because every sketch here is
mergeable, a streaming windowed aggregate is just "merge this batch's
partial into the window's state and emit the running estimate". Late
rows within the watermark merge into their window like any other row;
rows later than the watermark are dropped by Spark before reaching the
state function.

State lives in applyInPandasWithState, the one stateful streaming API
of this package; the per-batch merge/emit step is
``run_windowed_hll_batches``.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cuckoo_filter_spark.sketches.hll import HLLSketch

OUT_SCHEMA = "window_start timestamp, estimate double, updates bigint"
STATE_SCHEMA = "blob binary, updates bigint"


def run_windowed_hll_batches(
    pdfs: Iterable[pd.DataFrame],
    key_col: str,
    p: int,
    window_start,
    blob: bytes | None,
    updates: int,
) -> tuple[bytes, int, pd.DataFrame]:
    """Micro-batch core: fold this batch's keys into the window's HLL
    and build the running-estimate row. Returns
    (new_blob, new_updates, out_frame)."""
    hll = (HLLSketch.from_bytes(bytes(blob)) if blob is not None
           else HLLSketch(p=p))
    n = 0
    for pdf in pdfs:
        # COUNT(DISTINCT) null semantics (same exclusion as the batch
        # sketches and streaming dedup): astype(str) would otherwise
        # turn a NULL key into the literal "None"/"nan" string and
        # count it as one phantom distinct value per window
        vals = pdf[key_col].dropna()
        if len(vals) == 0:
            continue
        hll.update(vals.astype(str))
        n += len(vals)
    updates += n
    frame = pd.DataFrame(
        {
            "window_start": [window_start],
            "estimate": [float(hll.estimate())],
            "updates": [updates],
        }
    )
    return hll.to_bytes(), updates, frame


def _windowed(stream_df: DataFrame, ts_col: str, window: str,
              watermark: str) -> DataFrame:
    return (
        stream_df.withWatermark(ts_col, watermark)
        .withColumn("__w", F.window(F.col(ts_col), window))
        .withColumn("__ws", F.col("__w.start"))
        .drop("__w")
    )


def _window_end_ms(window_start, window_ms: int, tz: str) -> int:
    """Epoch ms of a window's END from its (session-tz-naive) start.

    State for window W=[ws, we) may be evicted exactly when the
    watermark reaches ``we``: Spark drops rows with ts < watermark
    before the state function, and every row of W has ts < we, so no
    row for W can arrive after that. The session timezone is captured
    at PLAN time and shipped in the closure — the naive window key the
    worker receives is rendered in that zone.

    DST: the naive rendering is lossy — on fall-back days two distinct
    windows share one naive wall-clock key, and spring-forward keys may
    not exist. Eviction only needs a timestamp >= the true window end
    (late eviction holds state ≤1 h longer; EARLY eviction would drop a
    live window), so resolve ambiguity to the LATER instant
    (``ambiguous=False`` = standard time) and shift nonexistent times
    forward."""
    ts = pd.Timestamp(window_start)
    if ts.tzinfo is None:
        ts = ts.tz_localize(tz, ambiguous=False, nonexistent="shift_forward")
    return int(ts.timestamp() * 1000) + window_ms


def windowed_distinct_count(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    p: int = 12,
) -> DataFrame:
    """stream → (window_start, n_distinct_estimate) per tumbling window,
    updated each micro-batch; state = one HLL per window.

    State is EVICTED once the watermark passes a window's end (an
    event-time timeout): a closed window can never receive rows again,
    and without eviction a long-running stream accumulates one HLL blob
    per window forever — unbounded state growth that slows every
    micro-batch commit. Nothing is emitted at eviction; the running per-batch
    estimates are the output contract."""
    window_ms = int(pd.Timedelta(window).total_seconds() * 1000)
    tz = stream_df.sparkSession.conf.get("spark.sql.session.timeZone")
    # stringify the key JVM-side: a micro-batch mixing NULLs into an
    # integral column reaches pandas as float64 ("402.0") while a
    # null-free batch arrives int64 ("402") — the same key would count
    # as TWO distinct values depending on batch composition (the
    # int-with-nulls identity hazard sketches/freq.py documents).
    # Spark's cast renders one canonical string per value.
    stream_df = stream_df.withColumn(key_col, F.col(key_col).cast("string"))
    windowed = _windowed(stream_df, ts_col, window, watermark)

    def agg_fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # watermark passed the window end: no row for this window
            # can arrive anymore (they'd be dropped as late) — drop the
            # blob, emit nothing
            state.remove()
            return
        blob, updates = state.get if state.exists else (None, 0)
        new_blob, updates, frame = run_windowed_hll_batches(
            pdfs, key_col, p, key[0],
            bytes(blob) if blob is not None else None, updates)
        state.update((bytearray(new_blob), updates))
        # any delivered row has ts >= watermark and ts < window end, so
        # the end is strictly in the future — a valid timeout timestamp
        state.setTimeoutTimestamp(_window_end_ms(key[0], window_ms, tz))
        yield frame

    return windowed.groupBy("__ws").applyInPandasWithState(
        agg_fn, OUT_SCHEMA, STATE_SCHEMA, "update",
        GroupStateTimeout.EventTimeTimeout
    )

