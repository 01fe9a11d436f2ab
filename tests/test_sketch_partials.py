"""The Arrow-batch sketch partial (``sketches.base.sketch_partials``):
key identity across the Arrow and pandas paths, and one metro64 pass
per keys column per batch, however many sketches read that column."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cuckoo_filter_spark.hashing import canon_int_keys
from cuckoo_filter_spark.sketches import (
    BloomSketch,
    CountMinSketch,
    HLLSketch,
    KLLSketch,
    ThetaSketch,
)

KEY_COLS = ("s", "b", "i32", "i64", "i64n", "d")
NUMERIC_COLS = ("d", "i32", "i64", "dec")


@pytest.fixture(params=["true", "false"], ids=["large_var", "var"])
def typed_df(spark, request):
    """Three partitions of 3000 rows in 250-row Arrow batches, under
    both settings of ``useLargeVarTypes``. ``i64n`` holds NULLs in every
    other batch only (pandas renders those batches float64), with
    values up to 2^52 + 39000 ≤ 2^53."""
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


def test_build_sketch_matches_driver_pandas_update(typed_df):
    """``build_sketch`` over every key/numeric column type is byte-
    identical to the same sketch updated on the driver from the pandas
    column (``canon_int_keys`` for keys, float64 for numerics)."""
    from cuckoo_filter_spark.sketches.base import build_sketches

    makes = {"hll": lambda: HLLSketch(p=12),
             "theta": lambda: ThetaSketch(k=4096),
             "kll": lambda: KLLSketch(k=4096)}
    specs = [(c, makes[m], "keys") for c in KEY_COLS for m in ("hll", "theta")]
    specs += [(c, makes["kll"], "numeric") for c in NUMERIC_COLS]
    built = build_sketches(typed_df, specs)

    pdf = typed_df.toPandas()
    for (col, make, kind), sk in zip(specs, built):
        ref = make()
        vals = pdf[col].dropna()
        if kind == "keys":
            ref.update(canon_int_keys(vals))
        else:
            ref.update(vals.to_numpy(dtype="float64"))
        assert sk.to_bytes() == ref.to_bytes(), (col, type(sk).__name__)


def test_non_integral_double_keys_still_raise(typed_df):
    from pyspark.errors import PythonException

    from cuckoo_filter_spark.sketches.base import build_sketch

    with pytest.raises(PythonException, match="non-integral float"):
        build_sketch(typed_df, "x", lambda: HLLSketch(p=12))


def test_keys_column_hashed_once_per_batch(monkeypatch):
    """Four keys sketches on one column cost ONE metro64 pass per batch,
    and each still sees exactly the column's non-NULL keys."""
    from cuckoo_filter_spark import hashing
    from cuckoo_filter_spark.sketches.base import _partial_fn

    calls = []
    real = hashing.metro64_flat

    def counting(*args, **kwargs):
        calls.append(len(args[1]))
        return real(*args, **kwargs)

    monkeypatch.setattr(hashing, "metro64_flat", counting)
    makes = [lambda: HLLSketch(p=10), lambda: BloomSketch(capacity=64),
             lambda: CountMinSketch(width=256, depth=3),
             lambda: ThetaSketch(k=64)]
    batches = [pa.RecordBatch.from_pydict({"key": ["a", None, "b", "c"]}),
               pa.RecordBatch.from_pydict({"key": ["d", "a", None]})]
    (out,) = _partial_fn([("key", m, "keys") for m in makes],
                         ["key"])(iter(batches))
    assert calls == [3, 2]
    assert out.column("rows").to_pylist() == [5] * 4
    keys = pd.Series(["a", "b", "c", "d", "a"])
    for make, blob in zip(makes, out.column("blob").to_pylist()):
        ref = make()
        ref.update(keys)
        assert blob == ref.to_bytes()


def test_arrow_key_hashes_matches_pandas_rule():
    from cuckoo_filter_spark.hashing import arrow_key_hashes, metro64_batch

    ints = pd.Series([3, -7, 2**53], dtype="int64")
    want = metro64_batch(ints)
    for arr in (pa.array(ints), pa.array(ints.astype("float64"))):
        assert (arrow_key_hashes(arr) == want).all()
    assert (arrow_key_hashes(pa.array([3, -7], pa.int32()))
            == want[:2]).all()
    strs = pd.Series(["", "a", "url/" * 20])
    for typ in (pa.string(), pa.large_string()):
        assert (arrow_key_hashes(pa.array(strs, typ))
                == metro64_batch(strs)).all()
    with pytest.raises(TypeError, match="non-integral float"):
        arrow_key_hashes(pa.array([1.0, 1.5]))
    assert np.array_equal(arrow_key_hashes(pa.array([], pa.int64())),
                          np.zeros(0, np.uint64))
