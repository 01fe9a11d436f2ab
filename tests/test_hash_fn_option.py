"""hash_fn='xxhash64' fast path: JVM-side hashing, consistent probes;
NULL probe keys answer False on every probe path under both hash
functions."""

import pytest
from pyspark.sql import functions as F

from cuckoo_filter_spark.operators.build import build_cuckoo_filter
from cuckoo_filter_spark.operators.query import cuckoo_semi_join, might_contain_udf

SF = "/root/testdata/sf0.001"


def test_xxhash_build_and_probe(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    keys = docs.select(F.concat_ws("/", "source", "doc_id").alias("key"))
    n = keys.count()
    build = build_cuckoo_filter(keys, "key", capacity=n, hash_fn="xxhash64")
    assert build.hash_fn == "xxhash64"
    assert build.kernel().size() == n
    mc = might_contain_udf(spark, build)
    assert keys.where(mc(F.col("key"))).count() == n  # no false negatives
    absent = spark.createDataFrame([(f"nope{i}",) for i in range(5000)], "key string")
    fp = absent.where(mc(F.col("key"))).count() / 5000
    assert fp < 0.005


def test_xxhash_semi_join_exact(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet").where(F.col("o_totalprice") > 300000)
    got = cuckoo_semi_join(li, "l_orderkey", orders, "o_orderkey",
                           hash_fn="xxhash64").count()
    want = li.join(orders.select("o_orderkey"),
                   li["l_orderkey"] == orders["o_orderkey"], "left_semi").count()
    assert got == want


def _probe_flags(spark, path, hash_fn, keys, probe):
    """(key, flag) rows of ``probe`` through one probe path of a filter
    (4-bit fingerprints) built over ``keys``."""
    from cuckoo_filter_spark.operators.grouped import (
        build_grouped_filters,
        grouped_might_contain_join,
        grouped_might_contain_udf,
    )
    from cuckoo_filter_spark.operators.sharded import (
        SHARD_FORMAT_VERSION,
        build_sharded_cuckoo_filter,
        sharded_might_contain_join,
    )
    from cuckoo_filter_spark.sketches.base import build_sketch
    from cuckoo_filter_spark.sketches.bloom import (
        BloomSketch,
        bloom_might_contain_udf,
    )

    if path == "single":
        mc = might_contain_udf(spark, build_cuckoo_filter(
            keys, "k", bits_per_item=4, hash_fn=hash_fn))
        flagged = probe.select("k", mc("k").alias("f"))
    elif path.startswith("sharded"):
        build = build_sharded_cuckoo_filter(
            keys, "k", num_shards=4, bits_per_item=4, hash_fn=hash_fn)
        if path == "sharded_udf":
            mc = might_contain_udf(spark, build)
            flagged = probe.select("k", mc("k").alias("f"))
        else:
            frame = spark.createDataFrame(
                [(s, bytearray(b), SHARD_FORMAT_VERSION)
                 for s, b in build.blobs.items()],
                "shard int, blob binary, format_version int")
            flagged = sharded_might_contain_join(
                probe, "k", build, shards_df=frame, flag_col="f")
    elif path.startswith("grouped"):
        filters = build_grouped_filters(
            keys.withColumn("g", F.lit("a")), "g", "k", bits_per_item=4,
            hash_fn=hash_fn)
        gprobe = probe.withColumn("g", F.lit("a"))
        if path == "grouped_udf":
            mc = grouped_might_contain_udf(spark, filters)
            flagged = gprobe.select("k", mc("g", "k").alias("f"))
        else:
            flagged = grouped_might_contain_join(
                gprobe, "g", "k", filters, flag_col="f")
    else:
        bloom, _ = build_sketch(keys, "k", lambda: BloomSketch(3001, 0.3))
        flagged = probe.select(
            "k", bloom_might_contain_udf(spark, bloom)("k").alias("f"))
    return flagged.select("k", "f").collect()


@pytest.mark.parametrize("path,hash_fn", [
    (p, h) for p in ("single", "sharded_udf", "sharded_join", "grouped_udf",
                     "grouped_join")
    for h in ("metro64", "xxhash64")
] + [("bloom", "metro64"), ("bloom_bigint", "metro64")])
def test_null_probe_keys_answer_false(spark, path, hash_fn):
    """A NULL key is never a member: every probe path answers False for
    it and True for every stored key. The filters are dense (4-bit
    fingerprints, a 0.3 FP Bloom), so a NULL probed as a phantom key —
    xxhash64(NULL) = 42, or a NULL string read as '' — shows as True."""
    keys = spark.range(7000, 10000).select(
        F.col("id").cast("string").alias("k"))
    if path == "bloom_bigint":
        keys = spark.range(7000, 10000).select(F.col("id").alias("k"))
    else:
        keys = keys.union(spark.createDataFrame([("",)], "k string"))
    probe = keys.union(keys.limit(2).select(F.lit(None).cast(
        keys.schema["k"].dataType).alias("k")))
    rows = _probe_flags(spark, path, hash_fn, keys, probe)
    assert len(rows) == keys.count() + 2
    assert [r["f"] for r in rows if r["k"] is None] == [False, False]
    assert all(r["f"] for r in rows if r["k"] is not None)
