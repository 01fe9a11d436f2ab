"""Windowed streaming HLL: per-window estimates within the error bound,
through applyInPandasWithState and its micro-batch core."""

import os


def test_windowed_distinct_count(spark, tmp_path):
    from cuckoo_filter_spark.streaming.windowed import windowed_distinct_count

    src = str(tmp_path / "src")
    os.makedirs(src)
    import pandas as pd

    rows = []
    for h in range(3):  # 3 hourly windows
        for i in range(200):
            rows.append((pd.Timestamp("2025-01-01") + pd.Timedelta(hours=h, seconds=i),
                         f"u{h}_{i % (50 * (h + 1))}"))
    pdf = pd.DataFrame(rows, columns=["ts", "uid"])
    spark.createDataFrame(pdf).write.parquet(f"{src}/b0.parquet")

    stream = spark.readStream.schema("ts timestamp, uid string").parquet(src + "/*.parquet")
    agg = windowed_distinct_count(stream, "ts", "uid", window="1 hour",
                                  watermark="2 hours", p=12)
    q = (
        agg.writeStream.format("memory").queryName("win_out").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = {r["window_start"].hour: r["estimate"]
           for r in spark.sql("select * from win_out").collect()}
    expected = {0: 50, 1: 100, 2: 150}
    assert set(out) == set(expected)
    for h, want in expected.items():
        assert abs(out[h] - want) / want < 0.1, (h, out[h], want)


def test_windowed_shared_core_pure():
    """The micro-batch core is pure: estimates
    accumulate across calls via the returned blob, and an empty batch
    round-trips state unchanged."""
    import pandas as pd

    from cuckoo_filter_spark.streaming.windowed import (
        run_windowed_hll_batches,
    )

    b1 = pd.DataFrame({"uid": [f"u{i}" for i in range(100)]})
    blob, updates, frame = run_windowed_hll_batches(
        [b1], "uid", 12, pd.Timestamp("2025-01-01"), None, 0)
    assert updates == 100 and abs(frame["estimate"][0] - 100) < 10
    # second micro-batch: 50 repeats + 50 new
    b2 = pd.DataFrame({"uid": [f"u{i}" for i in range(50, 150)]})
    blob2, updates, frame = run_windowed_hll_batches(
        [b2], "uid", 12, pd.Timestamp("2025-01-01"), blob, updates)
    assert updates == 200 and abs(frame["estimate"][0] - 150) < 15
    # empty batch: state unchanged, estimate stable
    blob3, updates, frame = run_windowed_hll_batches(
        [], "uid", 12, pd.Timestamp("2025-01-01"), blob2, updates)
    assert blob3 == blob2 and updates == 200


def test_windowed_state_evicted_after_watermark(spark, tmp_path):
    """State for a window whose end the watermark has passed must be
    REMOVED (EventTimeTimeout): a long-running stream would otherwise
    hold one HLL blob per window forever. Restart the stream with ever-
    later data and watch the state-store row count — the hour-0 window's
    row must be gone once the watermark clears its end."""
    import pandas as pd

    from cuckoo_filter_spark.streaming.windowed import windowed_distinct_count

    src = str(tmp_path / "src")
    os.makedirs(src)
    ck = str(tmp_path / "ck")

    def write_batch(name, hour, n=50):
        rows = [(pd.Timestamp("2025-01-01") + pd.Timedelta(hours=hour, seconds=i),
                 f"u{hour}_{i}") for i in range(n)]
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["ts", "uid"])).write.parquet(
            f"{src}/{name}.parquet")

    def run_once():
        stream = spark.readStream.schema("ts timestamp, uid string").parquet(
            src + "/*.parquet")
        agg = windowed_distinct_count(stream, "ts", "uid", window="1 hour",
                                      watermark="2 hours", p=12)
        # foreachBatch: the memory sink cannot recover from a
        # checkpoint, and this test restarts the query three times
        q = (agg.writeStream.foreachBatch(lambda df, _id: df.count())
             .outputMode("update").option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        states = [p["stateOperators"][0]["numRowsTotal"]
                  for p in q.recentProgress if p["stateOperators"]]
        return states[-1] if states else None

    write_batch("b0", hour=0)
    assert run_once() == 1  # hour-0 window held
    # hour-10 data → watermark 8:00 > hour-0 end (1:00) → hour-0 evicted
    write_batch("b1", hour=10)
    write_batch("b2", hour=11)  # extra batch so the timeout fires pre-stop
    n = run_once()
    assert n is not None and n <= 2, f"hour-0 state not evicted: {n} rows"


def test_windowed_core_excludes_null_keys():
    """COUNT(DISTINCT) null semantics in the micro-batch core: astype(str)
    used to turn a NULL key into the literal "None"/"nan" string and
    count one phantom distinct per window."""
    import pandas as pd

    from cuckoo_filter_spark.streaming.windowed import (
        run_windowed_hll_batches,
    )

    clean = pd.DataFrame({"uid": [f"u{i}" for i in range(100)]})
    b_str = pd.DataFrame({"uid": [f"u{i}" for i in range(100)] + [None] * 40})
    b_num = pd.DataFrame({"uid": pd.array(
        list(range(100)) + [None] * 40, dtype="Int64")})
    blob_c, up_c, f_c = run_windowed_hll_batches(
        [clean], "uid", 12, pd.Timestamp("2025-01-01"), None, 0)
    blob_s, up_s, f_s = run_windowed_hll_batches(
        [b_str], "uid", 12, pd.Timestamp("2025-01-01"), None, 0)
    assert up_s == up_c == 100  # nulls not folded in
    assert blob_s == blob_c  # identical sketch → no phantom "None" key
    _, up_n, f_n = run_windowed_hll_batches(
        [b_num], "uid", 12, pd.Timestamp("2025-01-01"), None, 0)
    assert up_n == 100 and abs(f_n["estimate"][0] - 100) < 10
