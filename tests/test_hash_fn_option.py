"""hash_fn='xxhash64' fast path: JVM-side hashing, consistent probes."""

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
