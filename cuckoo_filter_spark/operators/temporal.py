"""Temporal relational operators: sessionization, as-of join, bucketed
range join.

These are the event-pipeline operators a web-scale training-data engine
needs around the membership/dedup core (SURVEY.md §2.2 relational
surface); they have no referent in the reference filter library
(/root/reference is a hash-table kernel) — pure Spark-side engineering.

Design rules shared by all three:

* **Timestamps are compared as epoch MICROSECONDS** (``ts_micros``):
  TIMESTAMP_NTZ converts via ``timestampdiff(MICROSECOND, NTZ epoch
  literal, ts)`` — naive arithmetic, *independent of the session
  timezone* (a plain ``cast("timestamp")`` silently shifts by the
  session offset); TIMESTAMP uses ``unix_micros`` (a real instant);
  integer columns pass through. DuckDB's ``epoch_us(ts)`` on the same
  naive parquet values produces identical numbers, which is what the
  oracle-checked contract queries rely on.
* **Single-shuffle plans.** Sessionize and as-of are one Exchange by
  key + one in-task (external, spillable) sort; the range join is one
  equi-join on (key, time-bucket) with each probe row duplicated at
  most twice — never a BroadcastNestedLoop/Cartesian range scan. At
  100 TB the shuffle keys are (key) or (key, bucket); a pathologically
  hot key serializes into one task for the window-based ops (sessions
  are inherently sequential per key — find hot keys with the
  Misra-Gries sketch of ``sketches.freq.build_mg_sketches`` and split
  upstream by coarse time range if a key exceeds task memory), while
  the range join's (key, bucket)
  composite spreads hot keys across buckets and AQE skew-join splits
  the rest.
* **Determinism.** Callers must pass ``order_cols`` that make the
  per-key ordering total (e.g. a unique event id) whenever timestamps
  can tie; with a total order every output is deterministic under
  retries and repartitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T

_EPOCH_NTZ = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"
US = 1_000_000  # microseconds per second


def ts_micros(df: DataFrame, ts_col: str) -> Column:
    """Epoch-microseconds expression for ``ts_col``, chosen by dtype.

    TIMESTAMP_NTZ: naive micros since 1970-01-01 00:00:00 (exactly
    DuckDB's ``epoch_us`` on the same value, any session timezone).
    TIMESTAMP: ``unix_micros`` (true instant). Integral: pass-through
    (caller already has micros or another monotone clock).
    """
    dt = df.schema[ts_col].dataType
    if isinstance(dt, (T.LongType, T.IntegerType)):
        return F.col(ts_col).cast("long")
    if isinstance(dt, T.TimestampNTZType):
        return F.expr(
            f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, `{ts_col}`)")
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(F.col(ts_col))
    raise TypeError(
        f"ts_micros: column {ts_col!r} has unsupported type {dt}; "
        "expected timestamp, timestamp_ntz, or integral micros")


def _gap_us(gap_seconds: float) -> int:
    gap_us = int(round(gap_seconds * US))
    if gap_us <= 0:
        raise ValueError(f"gap_seconds must be > 0, got {gap_seconds!r}")
    return gap_us


def sessionize(df: DataFrame, key_col: str, ts_col: str,
               gap_seconds: float, order_cols: tuple[str, ...] = (),
               out_col: str = "session_idx") -> DataFrame:
    """Assign gap-based session indexes per key.

    A new session starts when the gap to the previous event of the same
    key is STRICTLY GREATER than ``gap_seconds`` (an exactly-gap-apart
    event continues the session). ``out_col`` is the 1-based session
    ordinal within the key; (key, out_col) identifies a session.

    Rows with a NULL key or NULL timestamp are dropped (a session needs
    both). Pass ``order_cols`` (e.g. a unique event id) to break
    timestamp ties — without a total order the lag/running-sum pair is
    nondeterministic under ties.

    Plan: one Exchange by ``key_col``, one in-task sort shared by the
    lag and the running sum (Catalyst plans both window functions over
    the same (partition, order) spec in a single Window node).
    """
    gap_us = _gap_us(gap_seconds)
    clash = [c for c in ("__us", out_col) if c in df.columns]
    if clash:
        raise ValueError(
            f"sessionize reserved/output columns present in input: {clash}")
    base = df.where(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
    us = ts_micros(base, ts_col).alias("__us")
    w = Window.partitionBy(key_col).orderBy("__us", *order_cols)
    prev = F.lag("__us").over(w)
    new_session = F.when(
        prev.isNull() | (F.col("__us") - prev > F.lit(gap_us)), 1
    ).otherwise(0)
    run = Window.partitionBy(key_col).orderBy("__us", *order_cols) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        base.withColumn("__us", us)
        .withColumn(out_col, F.sum(new_session).over(run))
        .drop("__us")
    )


def session_stats(df: DataFrame, key_col: str, ts_col: str,
                  gap_seconds: float,
                  order_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-session aggregates: one row per (key, session_idx) with
    ``n_events``, ``start_us``, ``end_us``, ``duration_us`` (all
    bigint — integer micros keep oracle value-hash comparisons exact,
    per the repo's no-raw-floats rule).
    """
    s = sessionize(df, key_col, ts_col, gap_seconds, order_cols)
    us = ts_micros(s, ts_col)
    return (
        s.groupBy(key_col, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(us).alias("start_us"),
            F.max(us).alias("end_us"),
        )
        .withColumn("duration_us", F.col("end_us") - F.col("start_us"))
    )


def asof_join(left: DataFrame, right: DataFrame, on: str,
              left_ts: str, right_ts: str,
              payload_cols: tuple[str, ...] = (),
              direction: str = "backward",
              allow_exact_match: bool = True,
              tolerance_seconds: float | None = None,
              matched_ts_col: str = "asof_ts_us") -> DataFrame:
    """As-of join: for every left row, attach the payload of the single
    right row with the same ``on`` key that is nearest in time —
    ``direction='backward'``: the latest right row at-or-before
    (``allow_exact_match=False``: strictly before) the left timestamp;
    ``'forward'``: the earliest at-or-after (resp. strictly after).
    Unmatched left rows keep NULL payloads (left outer semantics, like
    ``pandas.merge_asof``) — EXCEPT left rows with a NULL ``on`` key or
    NULL ``left_ts``, which are DROPPED (a NULL key matches nothing and
    cannot ride the key-partitioned window; same exclusion rule as
    sessionize — pre-filter or fill them upstream if they must
    survive). ``tolerance_seconds`` bounds the match distance; farther
    matches become NULL.

    ``matched_ts_col`` always carries the matched right row's epoch
    micros (bigint, NULL when unmatched) — deterministic even when
    several right rows tie on (key, ts); which TIED row's *payload*
    wins is the last in right's storage order and is NOT guaranteed, so
    deduplicate right on (key, ts) first if payload ties matter. A
    matched row's payload values are returned AS STORED, including
    NULLs (ts and payload always come from the same right row — the
    match rides in one struct internally).

    Plan — the union+window idiom, NOT a range join: both inputs are
    tagged and unioned, shuffled ONCE by key, sorted once in-task by
    (ts, side), and the match is a running ``last(payload, ignorenulls)``
    — O(n log n) per key with external sort spill, no per-left-row
    probing, no BroadcastNestedLoop. This is the 100 TB shape: a
    sort-merge range join degenerates quadratically when many left rows
    share a key; this never does.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction!r}")
    missing = [c for c in payload_cols if c not in right.columns]
    if missing:
        raise ValueError(f"payload_cols not in right: {missing}")
    if "us" in payload_cols:
        raise ValueError(
            "payload column 'us' collides with the internal match-struct "
            "field; rename it on the right side first")
    if matched_ts_col in payload_cols:
        raise ValueError(
            f"matched_ts_col {matched_ts_col!r} duplicates a payload "
            "column name")
    internal = ("__us", "__side", "__match", "__m")
    clash = [c for c in (*payload_cols, matched_ts_col, *internal)
             if c in left.columns]
    if clash:
        raise ValueError(
            f"asof_join output columns collide with left columns: {clash}; "
            "rename on one side first")
    tol_us = None if tolerance_seconds is None else _gap_us(tolerance_seconds)

    # sign: forward is backward on the reversed time axis
    sign = -1 if direction == "forward" else 1
    l_us = (ts_micros(left, left_ts) * sign).alias("__us")

    # the whole candidate match rides in ONE struct (__match): the struct
    # is non-null for every right row even when its payload FIELDS are
    # null, so last(ignorenulls) always takes ts and payload from the
    # SAME right row (per-column last() would skip a null payload and
    # pair the matched ts with a stale earlier payload)
    r_us_expr = ts_micros(right, right_ts) * sign
    lhs = (
        left.where(F.col(on).isNotNull() & F.col(left_ts).isNotNull())
        .select("*", l_us, F.lit(1).alias("__side"))
        .withColumn(
            "__match",
            F.lit(None).cast(T.StructType(
                [T.StructField("us", T.LongType())]
                + [T.StructField(c, right.schema[c].dataType)
                   for c in payload_cols])),
        )
    )
    rhs = (
        right.where(F.col(on).isNotNull() & F.col(right_ts).isNotNull())
        .select(F.col(on),
                r_us_expr.alias("__us"),
                F.lit(0).alias("__side"),
                F.struct(r_us_expr.alias("us"),
                         *[F.col(c) for c in payload_cols]).alias("__match"))
    )
    # null-fill lhs-only columns on rhs so unionByName lines up
    rhs = rhs.select(*[
        F.col(c) if c in rhs.columns
        else F.lit(None).cast(lhs.schema[c].dataType).alias(c)
        for c in lhs.columns
    ])

    # at equal ts: right sorts BEFORE left iff exact matches are allowed
    # (then last() over unbounded-preceding..current sees it)
    side_order = F.col("__side").asc() if allow_exact_match \
        else F.col("__side").desc()
    w = Window.partitionBy(on).orderBy(F.col("__us").asc(), side_order) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    matched = (
        lhs.unionByName(rhs)
        .select("*", F.last("__match", ignorenulls=True).over(w).alias("__m"))
        .where(F.col("__side") == 1)
    )

    within = F.lit(True)
    if tol_us is not None:
        # reversed axis flips the subtraction with it, so one rule serves
        # both directions: |left_ts - matched_ts| <= tolerance
        within = (F.col("__us") - F.col("__m.us")) <= F.lit(tol_us)
    keep = F.col("__m").isNotNull() & within
    final = [
        *[F.col(c) for c in left.columns],
        F.when(keep, F.col("__m.us") * sign).alias(matched_ts_col),
        *[F.when(keep, F.col(f"__m.{c}")).alias(c) for c in payload_cols],
    ]
    return matched.select(*final)


def bucketed_range_join(left: DataFrame, right: DataFrame, on: str,
                        left_ts: str, right_ts: str,
                        lower_seconds: float, upper_seconds: float,
                        suffix: str = "_r") -> DataFrame:
    """Inner range join: pairs (l, r) with ``l.on == r.on`` and
    ``l_ts + lower <= r_ts <= l_ts + upper`` (both bounds INCLUSIVE, in
    seconds; negative bounds look backward). Right columns that collide
    with left names are suffixed with ``suffix``; ``left_us``/
    ``right_us`` (epoch-micros bigints) are always appended.

    Plan — time bucketing, NOT a nested loop: right rows land in ONE
    bucket of width ``max(upper-lower, 1µs)``; each left row's window
    spans at most TWO consecutive buckets, materialized with
    ``sequence`` + ``explode`` (bounded 2× duplication). The join is a
    plain equi-join on (key, bucket) with the exact range predicate as
    a residual filter — shuffle hash / sort-merge, AQE skew-split
    eligible. A BroadcastNestedLoopJoin (Spark's default for a bare
    range predicate) is O(|L|·|R|) per key and is exactly what this
    avoids at 100 TB.
    """
    lo_us = int(round(lower_seconds * US))
    hi_us = int(round(upper_seconds * US))
    if lo_us > hi_us:
        raise ValueError(
            f"lower_seconds ({lower_seconds}) > upper_seconds "
            f"({upper_seconds})")
    width = max(hi_us - lo_us, 1)
    clash = [c for c in ("left_us", "right_us", "__bkt")
             if c in left.columns or c in right.columns]
    if clash:
        raise ValueError(
            f"bucketed_range_join reserved columns present in inputs: "
            f"{clash}; rename them first")

    lhs = (
        left.where(F.col(on).isNotNull() & F.col(left_ts).isNotNull())
        .withColumn("left_us", ts_micros(left, left_ts))
        # integer DIV, not floor(double /): micros ~1.7e15 exceed double
        # exactness for small widths. Truncating DIV buckets consistently
        # on both sides; every cell is >= `width` wide, so a length-width
        # window still spans at most 2 consecutive buckets.
        .withColumn(
            "__bkt",
            F.explode(F.sequence(
                F.expr(f"(left_us + {lo_us}L) DIV {width}L"),
                F.expr(f"(left_us + {hi_us}L) DIV {width}L"),
            )),
        )
    )
    rhs = (
        right.where(F.col(on).isNotNull() & F.col(right_ts).isNotNull())
        .withColumn("right_us", ts_micros(right, right_ts))
        .withColumn("__bkt", F.expr(f"right_us DIV {width}L"))
    )
    ren = {c: (c + suffix if c in left.columns else c)
           for c in right.columns}
    if len(set(ren.values())) != len(ren):
        dup = sorted({v for v in ren.values()
                      if list(ren.values()).count(v) > 1})
        raise ValueError(
            f"bucketed_range_join suffix {suffix!r} makes right column "
            f"names collide: {dup}; rename inputs or change suffix")
    rhs = rhs.select(
        *[F.col(c).alias(ren[c]) for c in right.columns],
        "right_us", "__bkt",
    )
    cond = (
        (lhs["__bkt"] == rhs["__bkt"])
        & (lhs[on] == rhs[ren[on]])
        & (rhs["right_us"] >= lhs["left_us"] + F.lit(lo_us))
        & (rhs["right_us"] <= lhs["left_us"] + F.lit(hi_us))
    )
    out = lhs.join(rhs, cond, "inner")
    # the right key equals the left key by the join condition; drop it
    keep = [lhs[c] for c in left.columns] + [lhs["left_us"]]
    keep += [rhs[ren[c]] for c in right.columns if c != on]
    keep += [rhs["right_us"]]
    return out.select(*keep)
