"""Windowed streaming frequent items (MG-per-window): micro-batch core
purity + bounds, and exact-mode end-to-end across multiple
micro-batches."""

import os

import pandas as pd
import pytest
from pyspark.sql import Window, functions as F


def test_shared_core_exact_and_bounds():
    from cuckoo_filter_spark.streaming.topk import run_windowed_mg_batches

    ws = pd.Timestamp("2025-01-01")
    # exact mode: k far above distinct count
    b1 = pd.DataFrame({"it": ["a"] * 5 + ["b"] * 3 + ["c", None]})
    blob, updates, frame = run_windowed_mg_batches(
        [b1], "it", 1024, 2, ws, None, 0)
    assert updates == 9  # NULL excluded
    got = dict(zip(frame["item"], frame["count_lo"]))
    assert got == {"a": 5, "b": 3}  # c (1) under min_count
    assert list(frame["count_lo"]) == list(frame["count_hi"])  # exact
    # second batch accumulates through the blob
    b2 = pd.DataFrame({"it": ["c", "c", "a"]})
    blob2, updates, frame = run_windowed_mg_batches(
        [b2], "it", 1024, 2, ws, blob, updates)
    got = dict(zip(frame["item"], frame["count_lo"]))
    assert updates == 12 and got == {"a": 6, "b": 3, "c": 3}
    # empty batch round-trips state unchanged
    blob3, updates, frame = run_windowed_mg_batches(
        [], "it", 1024, 2, ws, blob2, updates)
    assert blob3 == blob2 and updates == 12
    # trimmed mode: k=2 over many distinct -> offset > 0, bounds hold
    heavy = pd.DataFrame({"it": ["x"] * 50 + ["y"] * 30
                          + [f"z{i}" for i in range(40)]})
    _, _, frame = run_windowed_mg_batches([heavy], "it", 2, 1, ws, None, 0)
    row = frame.set_index("item")
    assert row.loc["x", "count_lo"] <= 50 <= row.loc["x", "count_hi"]
    assert (row["count_hi"] > row["count_lo"]).all()  # offset visible


def test_windowed_frequent_items_end_to_end(spark, tmp_path):
    from cuckoo_filter_spark.streaming.topk import windowed_frequent_items

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = []
    for h in range(2):  # 2 hourly windows
        for i in range(120):
            # item frequency i%6==0 style: u0 appears 40x, u1 24x, ...
            rows.append((pd.Timestamp("2025-01-01")
                         + pd.Timedelta(hours=h, seconds=i),
                         f"w{h}_u{i % (3 * (h + 1))}"))
    pdf = pd.DataFrame(rows, columns=["ts", "it"])
    # two files -> availableNow may deliver multiple micro-batches
    spark.createDataFrame(pdf.iloc[:150]).write.parquet(f"{src}/b0.parquet")
    spark.createDataFrame(pdf.iloc[150:]).write.parquet(f"{src}/b1.parquet")

    stream = (spark.readStream.schema("ts timestamp, it string")
              .option("maxFilesPerTrigger", 1).parquet(src + "/*.parquet"))
    out = windowed_frequent_items(stream, "ts", "it", window="1 hour",
                                  watermark="2 hours", k=64, min_count=10)
    q = (out.writeStream.format("memory").queryName("mg_out")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    snap = spark.table("mg_out")
    w = Window.partitionBy("window_start")
    final = (snap.withColumn("mx", F.max("updates").over(w))
             .where(F.col("updates") == F.col("mx")))
    got = {(r["window_start"].hour, r["item"]): (r["count_lo"], r["count_hi"])
           for r in final.collect()}
    exact = pdf.groupby([pdf["ts"].dt.hour, "it"]).size()
    want = {(h, it): n for (h, it), n in exact.items() if n >= 10}
    assert {kk: lo for kk, (lo, _) in got.items()} == want
    assert all(lo == hi for lo, hi in got.values())  # k=64 ⇒ exact


def test_checkpoint_restart_recovers_state(spark, tmp_path):
    """MG blob state must survive a query restart from the checkpoint:
    batch 2 (new process-equivalent: fresh query object, same
    checkpointLocation) accumulates into the SAME window's sketch, so
    the final snapshot counts span both runs."""
    from cuckoo_filter_spark.streaming.topk import windowed_frequent_items

    src = str(tmp_path / "src")
    os.makedirs(src)
    ck = str(tmp_path / "ck")
    base = pd.Timestamp("2025-01-01")

    def write(name, items, offset):
        rows = [(base + pd.Timedelta(seconds=offset + i), it)
                for i, it in enumerate(items)]
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["ts", "it"])).write.parquet(
            f"{src}/{name}.parquet")

    def run_once():
        # foreachBatch: the memory sink cannot recover from a
        # checkpoint — collect emissions driver-side instead
        rows = []
        stream = spark.readStream.schema("ts timestamp, it string").parquet(
            src + "/*.parquet")
        out = windowed_frequent_items(stream, "ts", "it", window="1 hour",
                                      watermark="2 hours", k=64, min_count=1)
        q = (out.writeStream
             .foreachBatch(lambda df, _id: rows.extend(df.collect()))
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        return rows

    write("b0", ["a"] * 4 + ["b"] * 2, offset=0)
    run_once()
    write("b1", ["a"] * 3 + ["c"] * 5, offset=100)  # same hour-0 window
    rows2 = run_once()  # second run sees ONLY the new file's batch
    got = {r["item"]: (r["count_lo"], r["count_hi"]) for r in rows2}
    # counts ACCUMULATE across the restart (blob recovered, not rebuilt)
    assert got["a"] == (7, 7) and got["b"] == (2, 2) and got["c"] == (5, 5)


def test_bad_args(spark):
    from cuckoo_filter_spark.streaming.topk import windowed_frequent_items

    df = (spark.readStream.format("rate").load()
          .selectExpr("timestamp as ts", "cast(value as string) as it"))
    with pytest.raises(ValueError, match="min_count"):
        windowed_frequent_items(df, "ts", "it", min_count=0)
