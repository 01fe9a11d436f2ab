"""spread_small_input / coalesce_small_input — the scale-adaptive
partition fit in both directions under one size bound.

Tiny under-partitioned inputs get round-robin repartitioned to the
session parallelism, tiny over-partitioned ones coalesced to it;
anything whose size estimate exceeds the bound is returned UNCHANGED
(same object — zero added Exchange at scale)."""

import pytest
from pyspark.sql import functions as F

from cuckoo_filter_spark.operators import spread
from cuckoo_filter_spark.operators.spread import (
    coalesce_small_input,
    plan_size_bytes,
    spread_small_input,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_fires_on_tiny_single_partition_input(spark):
    df = spark.range(1000).coalesce(1).select(
        F.col("id"), F.concat(F.lit("u"), F.col("id")).alias("key"))
    out = spread_small_input(df)
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    # results identical (round-robin moves rows, never changes them)
    assert sorted(r["key"] for r in out.collect()) == sorted(
        r["key"] for r in df.collect())


def test_spread_noop_above_size_bound(spark):
    df = spark.range(1000).coalesce(1)
    assert spread_small_input(df, max_bytes=0) is df  # "big" input: untouched


def test_spread_noop_when_already_parallel(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(target)
    assert spread_small_input(df) is df


def test_spread_materialize_checkpoints_only_when_fired(spark):
    tiny = spark.range(100).coalesce(1)
    out = spread_small_input(tiny, materialize=True)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["id"] for r in out.collect()) == list(range(100))
    big = spark.range(100).coalesce(1)
    assert spread_small_input(big, max_bytes=0, materialize=True) is big


def test_plan_size_estimate_sane(spark):
    est = plan_size_bytes(spark.range(10_000))
    assert est is not None and est > 0


def test_coalesce_fires_on_tiny_over_partitioned_input(spark):
    df = spark.range(0, 10_000, 1, 64)
    out = coalesce_small_input(df)
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    p = _plan(out)
    assert f"Coalesce {target}" in p and "Exchange" not in p
    assert sorted(r["id"] for r in out.collect()) == list(range(10_000))


def test_coalesce_noop_at_or_below_parallelism(spark):
    target = spark.sparkContext.defaultParallelism
    for n in (1, target):
        df = spark.range(0, 1000, 1, n)
        assert coalesce_small_input(df) is df


def test_coalesce_noop_above_size_bound(spark, monkeypatch):
    monkeypatch.setattr(spread, "DEFAULT_SPREAD_MAX_BYTES", 0)
    df = spark.range(0, 1000, 1, 64)
    assert coalesce_small_input(df) is df


def test_coalesce_noop_without_size_estimate(spark, monkeypatch):
    monkeypatch.setattr(spread, "plan_size_bytes", lambda df: None)
    df = spark.range(0, 1000, 1, 64)
    assert coalesce_small_input(df) is df


@pytest.mark.parametrize("tree_at", [None, 1], ids=["direct", "tree"])
def test_coalesced_sketch_partials_keep_merge_law_bytes(
        spark, monkeypatch, tree_at):
    """HLL, theta, Bloom and count-min over a 64-partition input: the
    coalesced build (4 partials) and the uncoalesced one (64) give the
    same bytes, on the direct collect and on the tree merge."""
    from cuckoo_filter_spark.sketches import (
        BloomSketch,
        CountMinSketch,
        HLLSketch,
        ThetaSketch,
        base,
    )

    if tree_at is not None:
        monkeypatch.setattr(base, "TREE_MERGE_AT", tree_at)
    df = spark.range(0, 20_000, 1, 64).select(
        F.concat(F.lit("k"), F.col("id") % 15_000).alias("key"))
    specs = [("key", lambda: HLLSketch(p=12), "keys"),
             ("key", lambda: ThetaSketch(k=256), "keys"),
             ("key", lambda: BloomSketch(capacity=20_000), "keys"),
             ("key", lambda: CountMinSketch(width=512, depth=4), "keys")]
    parts, n = base.sketch_partials(df, specs)
    assert n == spark.sparkContext.defaultParallelism
    assert "Coalesce" in _plan(parts)
    coalesced = [sk.to_bytes() for sk in base.build_sketches(df, specs)]
    monkeypatch.setattr(spread, "DEFAULT_SPREAD_MAX_BYTES", 0)
    parts, n = base.sketch_partials(df, specs)
    assert n == 64 and "Coalesce" not in _plan(parts)
    assert [sk.to_bytes() for sk in base.build_sketches(df, specs)
            ] == coalesced
