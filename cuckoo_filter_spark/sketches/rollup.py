"""Sketch rollup — ``GROUP BY ROLLUP(g1..gk) COUNT(DISTINCT key)`` from
ONE scan: the k+1 prefix grouping sets of :mod:`sketches.cube`
(``hll_grouping_sets``), so every level merges the checkpointed finest
HLL blobs and raw keys never shuffle. The ``lvl`` column (number of kept
leading group columns, k..0) disambiguates a real NULL group value from
a rolled-up marker NULL — same job as SQL GROUPING_ID.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cuckoo_filter_spark.sketches.cube import _validate_cols, hll_grouping_sets


def hll_rollup(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    p: int = 12,
    est_col: str = "est_distinct",
    keep_blobs: bool = False,
) -> DataFrame:
    """Approximate ``GROUP BY ROLLUP(group_cols) COUNT(DISTINCT
    key_col)`` from ONE scan — see module docstring for the plan shape.

    Returns one row per rollup group across ALL levels with columns
    ``group_cols... , lvl int, est_col double`` (+ ``blob`` when
    ``keep_blobs``): ``lvl`` = number of kept leading group columns
    (len(group_cols) = finest … 0 = grand total); rolled-up columns are
    NULL. Estimates carry HLL's published ±1.04/√2^p relative error and
    are deterministic given (p, data) — metro64 seed 1337 throughout.
    """
    if not group_cols:
        raise ValueError("hll_rollup needs at least one group column")
    _validate_cols(group_cols, key_col, est_col, "lvl")
    k = len(group_cols)
    sets = [group_cols[:j] for j in range(k, -1, -1)]
    out = hll_grouping_sets(df, group_cols, sets, key_col, p=p,
                            est_col=est_col, keep_blobs=keep_blobs)
    return out.select(
        *group_cols, (F.lit(k) - F.bit_count("gid")).cast("int").alias("lvl"),
        est_col, *(["blob"] if keep_blobs else []))
