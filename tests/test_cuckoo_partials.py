"""The Arrow-batch cuckoo build partial (``operators.build.key_partials``):
the deferred route's blob equals a driver-side reference build over
every key type, and a bigint column with NULL-bearing batches keeps
its identity beyond 2^53 on every build route and every probe. The
``typed_df`` fixture lives in conftest.py."""

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from cuckoo_filter_spark.hashing import canon_int_keys, metro64_batch
from cuckoo_filter_spark.kernel.filter import CuckooKernel
from cuckoo_filter_spark.operators.build import (
    DEFAULT_HEADROOM,
    build_cuckoo_filter,
)
from cuckoo_filter_spark.params import CuckooParams

KEY_COLS = ("s", "b", "i32", "i64", "i64n", "d")


def _reference_blob(keys: pd.Series) -> bytes:
    """The deferred route on the driver: dedupe the hashes, size the
    table from their count, insert once."""
    h = np.unique(metro64_batch(canon_int_keys(keys)))
    params = CuckooParams.for_capacity(
        max(int(len(h) * DEFAULT_HEADROOM), 64), 4, 16)
    kern = CuckooKernel(params)
    kern.insert_pairs(*params.split(h), dedupe=True)
    return kern.to_bytes()


def test_deferred_build_matches_reference(typed_df):
    """The blob of the deferred route does not depend on partitioning,
    so it must equal the reference over the column's non-NULL keys."""
    pdf = typed_df.toPandas()
    for col in KEY_COLS:
        built = build_cuckoo_filter(typed_df, col)
        assert built.blob == _reference_blob(pdf[col].dropna()), col


def test_non_integral_double_keys_still_raise(typed_df):
    with pytest.raises(PythonException, match="non-integral float"):
        build_cuckoo_filter(typed_df, "x")


def test_cuckoo_builds_keep_big_int_identity(spark):
    """A bigint key column whose null-bearing batches hold values beyond
    2^53: Arrow keeps int64 plus a validity bitmap, so the deferred,
    declared-capacity and sharded builds store every one of the 180
    keys under its int64 hash, and the Arrow probes (single and sharded
    UDF, sharded cogroup join) find every one of them."""
    from cuckoo_filter_spark.operators.query import might_contain_udf
    from cuckoo_filter_spark.operators.sharded import (
        SHARD_FORMAT_VERSION,
        build_sharded_cuckoo_filter,
        sharded_might_contain_join,
    )

    big = spark.range(0, 360, 1, 2).select(
        F.when(F.col("id") % 2 == 0, F.col("id") + F.lit(2**60))
        .alias("key"))
    keys = pd.Series(np.arange(0, 360, 2) + 2**60, dtype="int64")
    h = metro64_batch(keys)

    deferred = build_cuckoo_filter(big, "key")
    assert deferred.blob == _reference_blob(keys)
    for b in (deferred, build_cuckoo_filter(big, "key", capacity=180)):
        assert b.kernel().contain_hashed(*b.params.split(h)).all()
        assert b.kernel().size() == 180
    sharded = build_sharded_cuckoo_filter(big, "key", num_shards=4)
    assert sharded.contain_hashed64(h).all()
    assert sharded.size == 180

    present = big.where(F.col("key").isNotNull())
    for b in (deferred, sharded):
        assert present.where(
            might_contain_udf(spark, b)(F.col("key"))).count() == 180
    frame = spark.createDataFrame(
        [(s, bytearray(b), SHARD_FORMAT_VERSION)
         for s, b in sharded.blobs.items()],
        "shard int, blob binary, format_version int")
    joined = sharded_might_contain_join(big, "key", sharded, shards_df=frame)
    assert joined.where(F.col("might_contain")).count() == 180
