"""The Arrow-batch sketch partial (``sketches.base.sketch_partials``):
key identity across the Arrow and pandas paths, and one metro64 pass
per keys column per batch, however many sketches read that column.
The ``typed_df`` fixture lives in conftest.py."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from cuckoo_filter_spark.sketches import (
    BloomSketch,
    CountMinSketch,
    HLLSketch,
    KLLSketch,
    ThetaSketch,
)
from cuckoo_filter_spark.sketches.freq import MGSketch

KEY_COLS = ("s", "b", "i32", "i64", "i64n", "d")
NUMERIC_COLS = ("d", "i32", "i64", "dec")


def test_build_sketch_matches_driver_pandas_update(typed_df):
    """``build_sketch`` over every key/numeric column type is byte-
    identical to the same sketch updated on the driver from the raw
    pandas column: the driver item APIs apply the executor key rule
    themselves (NULL/NaN skipped, integral doubles as int64)."""
    from cuckoo_filter_spark.sketches.base import build_sketches

    makes = {"hll": lambda: HLLSketch(p=12),
             "theta": lambda: ThetaSketch(k=4096),
             "bloom": lambda: BloomSketch(capacity=4096),
             "cms": lambda: CountMinSketch(width=1024, depth=3),
             "mg": lambda: MGSketch(k=4096),
             "kll": lambda: KLLSketch(k=4096)}
    specs = [(c, makes[m], "keys") for c in KEY_COLS
             for m in ("hll", "theta", "bloom", "cms", "mg")]
    specs += [(c, makes["kll"], "numeric") for c in NUMERIC_COLS]
    built = build_sketches(typed_df, specs)

    pdf = typed_df.toPandas()
    for (col, make, kind), sk in zip(specs, built):
        ref = make()
        if kind == "keys":
            ref.update(pdf[col])
        else:
            ref.update(pdf[col].dropna().to_numpy(dtype="float64"))
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


GROUPED_KEY_COLS = ("s", "b", "i64n", "d")


def test_grouped_builds_match_driver_reference(typed_df):
    """The grouped builds read the same key identity as the ungrouped
    ones: per group, the exact distinct count, a filter holding every
    key, the rollup's HLL registers and the MG counts all equal a driver
    reference over the raw pandas column, through the driver item
    APIs."""
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.kernel.filter import CuckooKernel
    from cuckoo_filter_spark.operators.grouped import (
        build_grouped_filters,
        grouped_distinct_count,
    )
    from cuckoo_filter_spark.sketches import grouped_mg_topk, hll_rollup

    df = typed_df.withColumn("g", F.pmod(F.col("i32"), F.lit(3)))
    pdf = df.toPandas()
    for col in GROUPED_KEY_COLS:
        want = dict(list(pdf.groupby("g")[col]))
        got = {r["g"]: r["n_distinct"]
               for r in grouped_distinct_count(df, "g", col).collect()}
        assert got == {g: v.nunique() for g, v in want.items()}, col
        for r in build_grouped_filters(df, "g", col).collect():
            assert r["n_distinct"] == got[r["g"]], col
            kern = CuckooKernel.from_bytes(r["blob"])
            assert kern.contain(want[r["g"]].dropna()).all(), col
        for r in hll_rollup(df, ["g"], col, keep_blobs=True).collect():
            if r["lvl"] == 1:
                ref = HLLSketch(p=12)
                ref.update(want[r["g"]])
                assert r["blob"] == ref.to_bytes(), col
        ref = {}
        for g, v in want.items():
            mg = MGSketch(k=4096)
            mg.update(v)
            ref.update({(g, x): c for x, c in mg.counters.items()})
        assert ref == {(r["g"], r["item"]): r["freq_lo"] for r in
                       grouped_mg_topk(df, "g", col, k=4096,
                                       top_n=4096).collect()}, col


def test_grouped_and_ungrouped_mg_agree_on_double_keys(spark):
    """An integral double is one MG item ('3', not '3.0') in the
    grouped partial, the ungrouped partial and the driver update."""
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.sketches import grouped_mg_topk
    from cuckoo_filter_spark.sketches.freq import build_mg_sketches

    idc = F.col("id")
    df = spark.range(0, 2000, 1, 4).select(
        F.lit(1).alias("g"),
        F.when(idc % 5 != 0, (idc % 37).cast("double")).alias("d"))
    (sk,), _ = build_mg_sketches(df, ["d"], k=64)
    got = {r["item"]: r["freq_lo"] for r in
           grouped_mg_topk(df, "g", "d", k=64, top_n=64).collect()}
    assert got == sk.counters and "3" in got
