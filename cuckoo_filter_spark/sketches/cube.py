"""Sketch cube — approximate COUNT(DISTINCT) at ARBITRARY grouping sets
from ONE scan, merging sketches instead of re-scanning.

``GROUP BY GROUPING SETS(...)`` / ``CUBE(...)`` / ``ROLLUP(...)``
``COUNT(DISTINCT key)`` is the classic web-analytics cube (distinct
users per (event_type, day), per event_type, grand total). Computed
exactly it needs one scan per set, or one scan carrying every raw key
through every set (Spark's Expand multiplies the input by the number of
sets, then shuffles raw keys per set — at 10^12 rows × a 2^k cube that
is 2^k full-corpus shuffles). The mergeable-sketch formulation needs
neither:

* phase 1 — ONE pass over the natural input partitions (the grouped
  Arrow partial ``base.grouped_partials``, no row shuffle at all) emits
  one 2^p-byte HLL register blob per (partition, finest group), keys
  hashed once per batch with the cuckoo build's key rule. Raw keys
  never leave their partition.
* phase 2 — blobs merge per finest group (register max, associative;
  ``base.merge_groups``); the result is localCheckpoint-ed ONCE, so the
  union of all sets runs the scan exactly once.
* phase 3 — per requested set (a subset of the finest grouping): a tiny
  shuffle of G_finest blobs keyed by that set's columns, chained lazily
  from the checkpoint. Cost per set is blobs-only, independent of input
  size. Memory bound per scan task ≈ (groups in partition) × 2^p bytes
  (default p=12 → 4 KiB/blob, ±1.6%; p=14 → 16 KiB, ±0.8%).

Merge-up equals build-direct EXACTLY (register max is associative,
commutative and idempotent), so a set's registers are byte-identical to
an HLL built directly over that slice; tests pin this, not just the
estimate bound. COUNT(DISTINCT) null semantics: NULL keys don't count,
but their group still emits (an all-NULL-key group surfaces with count
0, as SQL's GROUP BY does); NULL group values are legal and kept.

Output marks rolled-up columns with SQL ``GROUPING_ID`` semantics
(bit i, counting from the LEFT of ``group_cols``, set when that column
is rolled up — ``GROUPING_ID(a,b) = grouping(a)*2 + grouping(b)``),
which disambiguates a real NULL group value from a rollup marker.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from cuckoo_filter_spark.sketches.base import (
    GROUP_TAIL,
    group_schema,
    grouped_partials,
    merge_groups,
)
from cuckoo_filter_spark.sketches.hll import HLLSketch


def _validate_cols(group_cols: list[str], key_col: str, est_col: str,
                   marker_col: str) -> None:
    """Output-name collision guard: a group column named like an output
    column would be silently overwritten (withColumn) or break the
    partial and merge rows (duplicate GROUP_TAIL names)."""
    reserved = {"partition_id", "n", "blob", marker_col, est_col}
    bad = reserved & set(group_cols)
    if bad:
        raise ValueError(
            f"group columns {sorted(bad)} collide with output columns "
            f"{sorted(reserved)}; rename them first")
    if key_col in set(group_cols) | reserved:
        raise ValueError(
            f"key column {key_col!r} collides with a group/output column")


def _merge_level(blobs: DataFrame, keep_cols: list[str], p: int) -> DataFrame:
    """Merge HLL blobs per ``keep_cols`` group (register max) through
    ``base.merge_groups``. Input is grouped-partial rows (group columns,
    partition_id, n, blob) from the scan or the finest level; output
    one such row per group — strictly shrinking data, never the raw
    input."""

    def combine(t: pa.Table) -> list[dict]:
        sk = HLLSketch(p=p)
        for b in t["blob"].to_pylist():
            sk.merge(HLLSketch.from_bytes(b))
        row = {c: t[c][0].as_py() for c in keep_cols}
        row.update(partition_id=t["partition_id"][0].as_py(),
                   n=pc.sum(t["n"]).as_py(), blob=sk.to_bytes())
        return [row]

    schema = group_schema(blobs, keep_cols, GROUP_TAIL)
    sel = blobs.select(*keep_cols, "partition_id", "n", "blob")
    if keep_cols:
        return merge_groups(sel, keep_cols, combine, schema)
    # grand total: one merge task over the finest level's blobs. SQL's
    # () grouping set emits one row even over empty input (COUNT = 0) —
    # groupBy on an empty frame emits none, so seed the empty sketch
    # (isEmpty touches only the already-checkpointed finest frame)
    if sel.isEmpty():
        return blobs.sparkSession.createDataFrame(
            [(0, 0, bytearray(HLLSketch(p=p).to_bytes()))],
            "partition_id int, n bigint, blob binary")
    return merge_groups(sel, [F.lit(1).alias("__one")], combine, schema)


def _estimate_udf(p: int):
    @F.pandas_udf("double")
    def est(blob: pd.Series) -> pd.Series:
        return blob.map(
            lambda b: float(HLLSketch.from_bytes(bytes(b)).estimate()))

    return est


def hll_grouping_sets(
    df: DataFrame,
    group_cols: list[str],
    sets: list[list[str]],
    key_col: str,
    p: int = 12,
    est_col: str = "est_distinct",
    keep_blobs: bool = False,
) -> DataFrame:
    """Approximate ``GROUP BY GROUPING SETS(sets) COUNT(DISTINCT
    key_col)`` from ONE scan — see module docstring for the plan shape.

    Each entry of ``sets`` must be a subset of ``group_cols`` (order
    within a set is irrelevant; output column order follows
    ``group_cols``). Returns one row per group across all sets with
    columns ``group_cols..., gid int, est_col double`` (+ ``blob`` when
    ``keep_blobs``); ``gid`` is the SQL GROUPING_ID bitmask and
    rolled-up columns are NULL. Estimates carry HLL's published
    ±1.04/√2^p relative error and are deterministic given (p, data).
    """
    if not group_cols:
        raise ValueError("hll_grouping_sets needs at least one group column")
    _validate_cols(group_cols, key_col, est_col, "gid")
    canon: list[tuple[str, ...]] = []
    seen: set[tuple[str, ...]] = set()
    for s in sets:
        extra = set(s) - set(group_cols)
        if extra:
            raise ValueError(
                f"grouping set {s!r} has columns {sorted(extra)} "
                f"outside group_cols {group_cols}")
        key = tuple(c for c in group_cols if c in set(s))
        if key in seen:
            raise ValueError(f"duplicate grouping set {s!r}")
        seen.add(key)
        canon.append(key)
    if not canon:
        raise ValueError("hll_grouping_sets needs at least one grouping set")

    partials = grouped_partials(df, group_cols, key_col,
                                make=lambda: HLLSketch(p=p),
                                hash_fn="metro64")
    # ONE checkpointed finest level; every set merges from these blobs
    finest = _merge_level(partials, group_cols, p).localCheckpoint()

    est = _estimate_udf(p)
    pieces = []
    for keep in canon:
        gid = sum((1 << (len(group_cols) - 1 - i))
                  for i, c in enumerate(group_cols) if c not in keep)
        lv = (finest if keep == tuple(group_cols)
              else _merge_level(finest, list(keep), p))
        out = lv.withColumn("gid", F.lit(gid))
        for c in group_cols:
            if c not in keep:
                out = out.withColumn(
                    c, F.lit(None).cast(df.schema[c].dataType))
        out = out.withColumn(est_col, est(F.col("blob")))
        if not keep_blobs:
            out = out.drop("blob")
        pieces.append(out.select(*group_cols, "gid", est_col,
                                 *(["blob"] if keep_blobs else [])))
    result = pieces[0]
    for piece in pieces[1:]:
        result = result.unionByName(piece)
    return result


def hll_cube(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    p: int = 12,
    est_col: str = "est_distinct",
    keep_blobs: bool = False,
    max_cols: int = 6,
) -> DataFrame:
    """Approximate ``GROUP BY CUBE(group_cols) COUNT(DISTINCT key_col)``
    — all 2^k grouping sets from ONE scan via :func:`hll_grouping_sets`.

    ``max_cols`` guards the 2^k set blow-up (the scan cost is constant,
    but each set is a blob-merge job; 2^6 = 64 is already generous).
    """
    k = len(group_cols)
    if k > max_cols:
        raise ValueError(
            f"hll_cube over {k} columns = {2 ** k} grouping sets; "
            f"raise max_cols (= {max_cols}) explicitly if intended")
    sets = [[c for i, c in enumerate(group_cols) if mask & (1 << i)]
            for mask in range(2 ** k)]
    return hll_grouping_sets(df, group_cols, sets, key_col, p=p,
                             est_col=est_col, keep_blobs=keep_blobs)
