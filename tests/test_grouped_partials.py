"""The grouped Arrow partial (``sketches.base.grouped_partials``) and
the one blob merge (``sketches.base.merge_groups``): bigint key
identity in NULL-bearing Arrow batches on every grouped build, merged
bytes that do not depend on the order partial rows arrive in, the
grouped filter combine's per-group bound, and no pandas group emitter
or pandas merge left in the sketch and build modules."""

import itertools
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def small_batches(spark):
    """250-row Arrow batches, so a column NULL in every other batch
    reaches Python as alternating NULL-bearing and NULL-free batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "250")
    yield spark
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def _every_other_batch_null(spark, value, n=3600, parts=3):
    """``value(id)``, NULL in every other 250-id block. Partitions of
    1200 ids straddle the blocks, so Arrow batches mix NULLs and values
    (pandas renders such bigint batches as float64)."""
    idc = F.col("id")
    return spark.range(0, n, 1, parts).select(
        (idc % 2).alias("g"),
        F.when(F.floor(idc / 250) % 2 == 0, value(idc)).alias("key"))


def test_grouped_filters_keep_big_int_identity(small_batches):
    """Bigint keys above 2^53 in NULL-bearing batches: every group's
    filter stores all of its keys (the pandas emitter raised the
    canon_int_keys 2^53 ValueError here)."""
    from cuckoo_filter_spark.operators.grouped import (
        build_grouped_filters,
        grouped_might_contain_udf,
    )

    spark = small_batches
    idc = F.col("id")
    df = spark.range(0, 3000, 1, 4).select(
        (idc % 3).alias("g"),
        F.when(idc % 2 == 0, idc + F.lit(2**60)).alias("key"))
    filters = build_grouped_filters(df, "g", "key")
    assert {r["g"]: r["n_distinct"] for r in filters.collect()} == {
        0: 500, 1: 500, 2: 500}
    mc = grouped_might_contain_udf(spark, filters)
    assert df.where(mc("g", "key")).count() == 1500


@pytest.mark.parametrize("api", ["rollup", "cube"])
def test_hll_rollup_and_cube_keep_int_identity(small_batches, api):
    """A bigint key NULL in every other batch: each of the 300 keys
    counts once at every level (the pandas emitter hashed the float64
    rendering of the NULL-bearing batches and reported ~539)."""
    from cuckoo_filter_spark.sketches import HLLSketch, hll_cube, hll_rollup

    df = _every_other_batch_null(small_batches, lambda i: i % 300)
    fn = hll_rollup if api == "rollup" else hll_cube
    rows = fn(df, ["g"], "key", keep_blobs=True).collect()
    pdf = df.toPandas().dropna()
    for r in rows:
        keys = pdf["key"] if r["g"] is None else pdf[pdf["g"] == r["g"]]["key"]
        ref = HLLSketch(p=12)
        ref.update(keys.astype("int64"))
        assert r["blob"] == ref.to_bytes(), (r["g"], r["est_distinct"])
    total = [r["est_distinct"] for r in rows if r["g"] is None]
    assert total and abs(total[0] - 300) < 10


def test_grouped_mg_keeps_big_int_identity(small_batches):
    """Items 2^60 + id % 3 with NULLs in every other batch: exact mode
    reports each item's true frequency (the pandas path's astype of the
    float64 rendering merged neighbours into one item)."""
    from cuckoo_filter_spark.sketches.freq import grouped_mg_topk

    df = _every_other_batch_null(
        small_batches, lambda i: F.lit(2**60) + i % 3).select(
        F.lit("a").alias("g"), "key")
    want = {(str(r["key"]), r["count"], r["count"], True)
            for r in df.where(F.col("key").isNotNull()).groupBy("key")
            .count().collect()}
    assert len(want) == 3
    got = {(r["item"], r["freq_lo"], r["freq_hi"], r["exact_mode"])
           for r in grouped_mg_topk(df, "g", "key").collect()}
    assert got == want


def test_grouped_filter_combine_refuses_oversized_group(spark, monkeypatch):
    """The documented per-group bound fails loud and names the sharded
    build; the limit is read when the build is planned."""
    from cuckoo_filter_spark.operators import grouped

    monkeypatch.setattr(grouped, "MAX_GROUP_KEYS", 50)
    df = spark.range(0, 120).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("key"))
    with pytest.raises(PythonException, match="build_sharded_cuckoo_filter"):
        grouped.build_grouped_filters(df, "g", "key").collect()
    monkeypatch.setattr(grouped, "MAX_GROUP_KEYS", 60)
    assert grouped.build_grouped_filters(df, "g", "key").count() == 2


# -- merge order, no Spark ---------------------------------------------------

def _orders(rows: list[dict], schema: pa.Schema):
    """Every arrival order of ``rows`` as an Arrow table."""
    for perm in itertools.permutations(rows):
        yield pa.Table.from_pylist(list(perm), schema=schema)


def _merged(merge, schema, in_schema, rows) -> set:
    from cuckoo_filter_spark.sketches.base import group_merger

    apply = group_merger(merge, schema)
    return {apply(t).to_pylist().__repr__() for t in _orders(rows, in_schema)}


def test_grouped_filter_combine_ignores_arrival_order(rng):
    from cuckoo_filter_spark.operators.grouped import (
        GROUPED_BUILD_ROW,
        _filter_combiner,
    )
    from cuckoo_filter_spark.sketches.base import GROUP_TAIL

    in_schema = pa.schema([("g", pa.string())] + GROUP_TAIL)
    out = pa.schema([("g", pa.string())] + GROUPED_BUILD_ROW)
    h = rng.integers(0, 2**63, size=2400).astype(np.uint64)
    rows = [{"g": "en", "partition_id": p, "n": 600,
             "blob": h[p * 600:(p + 1) * 600].astype("<u8").tobytes()}
            for p in range(4)]
    merge = _filter_combiner("g", "metro64", 4, 16, 0, 1.15, 10**8)
    assert len(_merged(merge, out, in_schema, rows)) == 1


def test_mg_combine_ignores_arrival_order():
    from cuckoo_filter_spark.sketches.base import GROUP_TAIL
    from cuckoo_filter_spark.sketches.freq import (
        MG_TOPK_ROW,
        MGSketch,
        _mg_combiner,
    )

    rows = []
    for p in range(4):
        sk = MGSketch(k=4)
        sk.update(pd.Series([f"i{(p * 7 + j) % 13}" for j in range(40)]
                            + [f"hot{p % 2}"] * (10 + p)))
        rows.append({"g": 1, "partition_id": p, "n": sk.n_items,
                     "blob": sk.to_bytes()})
    in_schema = pa.schema([("g", pa.int64())] + GROUP_TAIL)
    out = pa.schema([("g", pa.int64())] + MG_TOPK_ROW)
    assert len(_merged(_mg_combiner("g", 4, 10), out, in_schema, rows)) == 1


def test_shard_combine_ignores_arrival_order(rng):
    from cuckoo_filter_spark.operators.build import pack_pairs
    from cuckoo_filter_spark.operators.sharded import (
        PAIRS_ROW,
        SHARD_ROW,
        _shard_combiner,
    )
    from cuckoo_filter_spark.params import CuckooParams

    params = CuckooParams.for_capacity(2000)
    rows = []
    for p in range(4):
        bi, tg = params.split(
            rng.integers(0, 2**63, size=450).astype(np.uint64))
        rows.append({"shard": 3, "partition_id": p, "rows": 450,
                     "distinct_keys": None, "blob": pack_pairs(bi, tg)})
    merge = _shard_combiner(params, unique=True)

    def blob_only(t):
        return [{**r, "wall_ms": 0.0} for r in merge(t)]

    assert len(_merged(blob_only, SHARD_ROW, PAIRS_ROW, rows)) == 1


@pytest.mark.parametrize("kind", ["kll", "tdigest"])
def test_tree_merge_level_ignores_arrival_order(rng, kind):
    """KLL and t-digest merges are order-sensitive (over the 24 orders of
    four partials they gave 6 and 12 distinct blobs)."""
    from cuckoo_filter_spark.sketches import KLLSketch, TDigestSketch
    from cuckoo_filter_spark.sketches.base import PARTS_ROW, _tree_combiner

    make = ((lambda: KLLSketch(k=32)) if kind == "kll"
            else (lambda: TDigestSketch(delta=20.0)))
    rows = []
    for p in range(4):
        sk = make()
        sk.update(rng.normal(p, 1 + p, size=500))
        rows.append({"partition_id": p, "sketch_id": 0, "rows": 500,
                     "wall_ms": 1.0, "blob": sk.to_bytes()})
    in_schema = pa.schema(list(PARTS_ROW) + [pa.field("__g", pa.int32())])
    rows = [{**r, "__g": 1} for r in rows]
    assert len(_merged(_tree_combiner([make]), PARTS_ROW, in_schema,
                       rows)) == 1


def test_no_pandas_group_emitters_or_merges():
    """The sketch modules and the build, grouped and sharded operators
    run their partials and merges on Arrow only."""
    paths = [os.path.join(REPO, "cuckoo_filter_spark", "sketches", f)
             for f in os.listdir(os.path.join(REPO, "cuckoo_filter_spark",
                                              "sketches"))
             if f.endswith(".py")]
    paths += [os.path.join(REPO, "cuckoo_filter_spark", "operators", f)
              for f in ("build.py", "grouped.py", "sharded.py")]
    hits = [f"{p}:{i}" for p in paths
            for i, line in enumerate(open(p), 1)
            if re.search(r"mapInPandas|applyInPandas\(", line)]
    assert not hits, hits
