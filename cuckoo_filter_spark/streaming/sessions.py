"""Streaming sessionization — gap-based sessions maintained in state,
emitted exactly once when the watermark guarantees they can no longer
grow.

Semantics (the streaming twin of operators/temporal.sessionize, same
strictly-greater-than-gap boundary rule): a key's events merge into
session intervals; two intervals merge when the gap between them is
<= gap (an exactly-gap-apart event continues the session). A session
is FINAL once ``session_end + gap < watermark``: any later event has
event-time >= watermark, hence is more than ``gap`` past the session
end and would start a new session — so the session is emitted exactly
once and dropped from state. Sessions near the head of the stream
(``end + gap >= watermark``) remain open in state and are NOT emitted;
they finalize in a later micro-batch (or after restart) — this is the
honest streaming contract, and the rule is recomputable in SQL, which
is what the oracle-checked contract query relies on.

Out-of-order safety: a late event (>= watermark) can never extend or
precede a finalized session — ``ts >= watermark > end + gap`` puts it
strictly more than one gap after the session, and the session's start
is below its end. Within-watermark reordering is handled by interval
merging (an earlier event may extend an OPEN session backward or merge
two open sessions).

State lives in applyInPandasWithState; the per-batch steps are
``merge_session_state`` (fold events into open intervals) and
``finalize_sessions`` (split off the sessions the watermark closes).

State is three parallel bigint arrays (starts/ends/counts of open
intervals) — tiny per key (one entry per OPEN session; finalized ones
leave state immediately), so state size is bounded by key cardinality,
not stream length.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = ("starts array<long>, ends array<long>, "
                "counts array<long>")


def merge_session_state(
    pdfs: Iterable[pd.DataFrame],
    us_col: str,
    gap_us: int,
    starts: list[int],
    ends: list[int],
    counts: list[int],
) -> tuple[list[int], list[int], list[int]]:
    """Fold this batch's event times into the open-session intervals.

    Each event is a width-0 interval (t, t, 1); intervals (existing +
    new) sort by start and merge while ``next.start - prev.end <= gap``
    (the strictly-greater rule's complement). Returns sorted open
    intervals."""
    ts = [np.asarray(starts, dtype=np.int64)]
    te = [np.asarray(ends, dtype=np.int64)]
    tc = [np.asarray(counts, dtype=np.int64)]
    for pdf in pdfs:
        v = pdf[us_col].dropna().to_numpy(dtype=np.int64, copy=False)
        if len(v) == 0:
            continue
        ts.append(v)
        te.append(v)
        tc.append(np.ones(len(v), dtype=np.int64))
    s = np.concatenate(ts)
    if len(s) == 0:
        return [], [], []
    e = np.concatenate(te)
    c = np.concatenate(tc)
    order = np.argsort(s, kind="stable")
    s, e, c = s[order], e[order], c[order]
    # vectorized sweep (a hot key may deliver millions of events per
    # batch — a Python loop here would serialize seconds per key). The
    # global running max of ends equals the session-local one: a new
    # session's first interval starts (and hence ends) above every
    # earlier end + gap, so the cummax resets upward at each boundary.
    cummax_e = np.maximum.accumulate(e)
    new = np.empty(len(s), dtype=bool)
    new[0] = True
    new[1:] = s[1:] - cummax_e[:-1] > gap_us
    starts_idx = np.flatnonzero(new)
    out_s = s[starts_idx]
    out_e = np.maximum.reduceat(e, starts_idx)
    out_c = np.add.reduceat(c, starts_idx)
    return out_s.tolist(), out_e.tolist(), out_c.tolist()


def finalize_sessions(
    starts: list[int], ends: list[int], counts: list[int],
    gap_us: int, watermark_us: int,
) -> tuple[list[tuple[int, int, int]], tuple[list[int], list[int], list[int]]]:
    """Split open intervals into (final, still-open): final iff
    ``end + gap < watermark`` (see module docstring for why no later
    event can touch such a session)."""
    final = []
    ks, ke, kc = [], [], []
    for st, en, n in zip(starts, ends, counts):
        if en + gap_us < watermark_us:
            final.append((st, en, n))
        else:
            ks.append(st)
            ke.append(en)
            kc.append(n)
    return final, (ks, ke, kc)


def streaming_sessionize(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: float,
    watermark: str = "1 hour",
) -> DataFrame:
    """stream → one row per FINALIZED session:
    (key, session_start_us, session_end_us, n_events), all bigint.

    ``ts_col`` must be TimestampType (cast NTZ sources under a pinned
    session timezone, the repo's streaming convention). Rows with a
    NULL key or NULL timestamp are dropped (numeric NULL keys crash the
    state machinery; same exclusion as streaming.dedup).

    Output mode is update: each finalized session is emitted once.

    Timer protocol: after each batch a per-key event-time timer is set
    at ``min(open end) + gap + 1ms`` — the earliest instant any open
    session can finalize. On expiry, every finalizable session emits
    and the timer re-arms for the remainder; a key with no open
    sessions leaves state entirely. State per key is one (start, end,
    count) triple per OPEN session only, so a 100 TB-scale stream's
    state is O(active keys), not O(events)."""
    from cuckoo_filter_spark.operators.temporal import _gap_us

    gap_us = _gap_us(gap_seconds)
    key_type = stream_df.schema[key_col].dataType.simpleString()
    out_schema = (f"{key_col} {key_type}, session_start_us long, "
                  f"session_end_us long, n_events long")
    prepped = (
        stream_df.where(
            F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .withColumn("__us", F.unix_micros(F.col(ts_col)))
    )

    def _emit(key, final) -> pd.DataFrame:
        return pd.DataFrame({
            key_col: [key[0]] * len(final),
            "session_start_us": [f[0] for f in final],
            "session_end_us": [f[1] for f in final],
            "n_events": [f[2] for f in final],
        })

    def sess_fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.hasTimedOut:
            starts, ends, counts = state.get
            final, keep = finalize_sessions(
                list(starts), list(ends), list(counts), gap_us, wm_us)
            if keep[0]:
                state.update(keep)
                state.setTimeoutTimestamp(
                    (min(keep[1]) + gap_us) // 1000 + 1)
            else:
                state.remove()
            if final:
                yield _emit(key, final)
            return
        starts, ends, counts = state.get if state.exists else ([], [], [])
        starts, ends, counts = merge_session_state(
            pdfs, "__us", gap_us, list(starts), list(ends), list(counts))
        final, keep = finalize_sessions(
            starts, ends, counts, gap_us, wm_us)
        if keep[0]:
            state.update(keep)
            # strictly greater than the current watermark by
            # construction: every kept session has end + gap >= wm
            state.setTimeoutTimestamp(
                (min(keep[1]) + gap_us) // 1000 + 1)
        elif state.exists:
            state.remove()
        if final:
            yield _emit(key, final)

    return prepped.groupBy(key_col).applyInPandasWithState(
        sess_fn, out_schema, STATE_SCHEMA, "update",
        GroupStateTimeout.EventTimeTimeout,
    )

