import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pytest


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("cuckoo-filter-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(params=["true", "false"], ids=["large_var", "var"])
def typed_df(spark, request):
    """Three partitions of 3000 rows in 250-row Arrow batches, under
    both settings of ``useLargeVarTypes``. ``i64n`` holds NULLs in every
    other batch only (pandas renders those batches float64), with
    values up to 2^52 + 39000 ≤ 2^53."""
    from pyspark.sql import functions as F

    conf = {"spark.sql.execution.arrow.useLargeVarTypes": request.param,
            "spark.sql.execution.arrow.maxRecordsPerBatch": "250"}
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    idc = F.col("id")
    df = spark.range(0, 3000, 1, 3).select(
        F.concat(F.lit("k"), idc).alias("s"),
        F.concat(F.lit("b"), idc).cast("binary").alias("b"),
        (idc * 7 - 5000).cast("int").alias("i32"),
        (idc * 1_000_003 - F.lit(2**40)).alias("i64"),
        F.when((F.floor(idc / 250) % 2 == 0) | (idc % 5 != 0),
               idc * 13 + F.lit(2**52)).alias("i64n"),
        (idc * 3).cast("double").alias("d"),
        (idc / 8).cast("decimal(12,3)").alias("dec"),
        (idc / 7).alias("x"),
    )
    yield df
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
