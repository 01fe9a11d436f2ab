"""Streaming sessionization: micro-batch core laws + end-to-end multi-batch
finalization through applyInPandasWithState."""

import os

import pandas as pd
import pytest

from cuckoo_filter_spark.streaming.sessions import (
    finalize_sessions,
    merge_session_state,
    streaming_sessionize,
)

US = 1_000_000


# ---------------------------------------------------------------------------
# pure core
# ---------------------------------------------------------------------------


def test_merge_core_gap_boundary_and_backward_extension():
    gap = 60 * US
    # exactly gap apart MERGES (strictly-greater rule); gap+1µs splits
    s, e, c = merge_session_state(
        [pd.DataFrame({"us": [0, 60 * US]})], "us", gap, [], [], [])
    assert (s, e, c) == ([0], [60 * US], [2])
    s, e, c = merge_session_state(
        [pd.DataFrame({"us": [0, 60 * US + 1]})], "us", gap, [], [], [])
    assert (s, e, c) == ([0, 60 * US + 1], [0, 60 * US + 1], [1, 1])
    # a late (out-of-order) event extends an open session BACKWARD and
    # can merge two open sessions into one
    s, e, c = merge_session_state(
        [pd.DataFrame({"us": [150 * US]})], "us", gap,
        [100 * US, 200 * US], [100 * US, 250 * US], [2, 3])
    assert (s, e, c) == ([100 * US], [250 * US], [6])


def test_merge_core_chunking_invariance():
    gap = 30 * US
    evs = [5, 1, 40, 41, 200, 100, 99, 231]
    one = merge_session_state(
        [pd.DataFrame({"us": [v * US for v in evs]})], "us", gap, [], [], [])
    # same events split across batches, folding state forward
    st = ([], [], [])
    for chunk in ([evs[0:3]], [evs[3:4]], [evs[4:]]):
        st = merge_session_state(
            [pd.DataFrame({"us": [v * US for v in chunk[0]]})],
            "us", gap, *st)
    assert one == st


def test_merge_core_matches_reference_loop():
    """The vectorized cummax/reduceat sweep is byte-equal to the
    obvious sequential merge on random event+state mixes (incl. wide
    state intervals whose ends dominate later event times)."""
    import numpy as np

    rng = np.random.default_rng(3)
    for trial in range(200):
        gap = int(rng.integers(1, 50)) * US
        n_ev = int(rng.integers(0, 40))
        evs = sorted(int(v) * US for v in rng.integers(0, 300, n_ev))
        n_st = int(rng.integers(0, 5))
        st_s, st_e, st_c = [], [], []
        cur = 0
        for _ in range(n_st):
            a = cur + int(rng.integers(0, 100)) * US
            b = a + int(rng.integers(0, 200)) * US
            st_s.append(a)
            st_e.append(b)
            st_c.append(int(rng.integers(1, 9)))
            cur = b + gap + US  # state intervals are gap-disjoint
        got = merge_session_state(
            [pd.DataFrame({"us": evs})], "us", gap,
            list(st_s), list(st_e), list(st_c))
        # reference: sequential sweep
        iv = sorted(
            [(s, e, c) for s, e, c in zip(st_s, st_e, st_c)]
            + [(v, v, 1) for v in evs])
        ref_s, ref_e, ref_c = [], [], []
        for s, e, c in iv:
            if ref_s and s - ref_e[-1] <= gap:
                ref_e[-1] = max(ref_e[-1], e)
                ref_c[-1] += c
            else:
                ref_s.append(s)
                ref_e.append(e)
                ref_c.append(c)
        assert got == (ref_s, ref_e, ref_c), (trial, gap, evs, st_s, st_e)


def test_finalize_rule():
    gap = 10 * US
    final, keep = finalize_sessions(
        [0, 100 * US], [5 * US, 105 * US], [3, 4],
        gap, watermark_us=50 * US)
    assert final == [(0, 5 * US, 3)]
    assert keep == ([100 * US], [105 * US], [4])
    # end + gap == watermark stays open (strict <)
    final, keep = finalize_sessions(
        [0], [40 * US], [1], gap, watermark_us=50 * US)
    assert final == []


# ---------------------------------------------------------------------------
# end-to-end
# ---------------------------------------------------------------------------


def _run(spark, tmp_path, name, gap_s, wm, files):
    src = str(tmp_path / f"src_{name}")
    os.makedirs(src)
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=["ts", "uid"])
        spark.createDataFrame(pdf).coalesce(1).write.parquet(
            f"{src}/b{i}.parquet")
    stream = (
        spark.readStream.schema("ts timestamp, uid string")
        .option("maxFilesPerTrigger", 1).parquet(src + "/*.parquet")
    )
    out = streaming_sessionize(stream, "uid", "ts", gap_s, watermark=wm)
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    return [(r.uid, r.session_start_us, r.session_end_us, r.n_events)
            for r in spark.sql(f"select * from {name}").collect()]


def test_streaming_sessionize_finalizes_and_holds_tail(spark, tmp_path):
    t0 = pd.Timestamp("2025-01-01")

    def ts(s):
        return t0 + pd.Timedelta(seconds=s)

    us0 = int(t0.timestamp()) * US
    # batch 0: u1 bursts at 0/10/20s, u2 single event at 5000s
    # batch 1: u1 again at 100000s -> advances watermark so u1's first
    # session AND u2's session finalize; the 100000s session stays open
    # (end + gap >= final watermark) and must NOT emit
    b0 = [(ts(0), "u1"), (ts(10), "u1"), (ts(20), "u1"), (ts(5000), "u2")]
    b1 = [(ts(100000), "u1")]
    got = sorted(_run(spark, tmp_path, "sess_e2e", 60.0, "10 seconds",
                      [b0, b1]))
    assert got == [
        ("u1", us0, us0 + 20 * US, 3),
        ("u2", us0 + 5000 * US, us0 + 5000 * US, 1),
    ]


def test_streaming_sessionize_checkpoint_restart(spark, tmp_path):
    """Open-session state must recover from the checkpoint across query
    restarts: run 1 leaves u1's session OPEN (nothing emitted), run 2
    (fresh query, same checkpointLocation) extends it and then closes
    it — the finalized session must span BOTH runs' events."""
    from cuckoo_filter_spark.streaming.sessions import streaming_sessionize

    t0 = pd.Timestamp("2025-01-01")
    us0 = int(t0.timestamp()) * US

    def ts(s):
        return t0 + pd.Timedelta(seconds=s)

    src = str(tmp_path / "src")
    os.makedirs(src)
    ck = str(tmp_path / "ck")

    def write(name, rows):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["ts", "uid"])).coalesce(1) \
            .write.parquet(f"{src}/{name}.parquet")

    def run_once():
        rows = []
        stream = spark.readStream.schema("ts timestamp, uid string").parquet(
            src + "/*.parquet")
        out = streaming_sessionize(stream, "uid", "ts", 60.0,
                                   watermark="10 seconds")
        q = (out.writeStream
             .foreachBatch(lambda df, _id: rows.extend(df.collect()))
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        return rows

    write("b0", [(ts(0), "u1"), (ts(10), "u1")])
    assert run_once() == []  # session still open — exactly-once holds
    # extend the SAME session (30-10=20s < 60s gap), then jump far
    # ahead so the watermark closes it
    write("b1", [(ts(30), "u1"), (ts(100000), "u1")])
    got = [(r.uid, r.session_start_us, r.session_end_us, r.n_events)
           for r in run_once()]
    assert got == [("u1", us0, us0 + 30 * US, 3)]


def test_streaming_sessionize_out_of_order_merges(spark, tmp_path):
    t0 = pd.Timestamp("2025-01-01")

    def ts(s):
        return t0 + pd.Timedelta(seconds=s)

    us0 = int(t0.timestamp()) * US
    # batch 0 delivers t=100s; batch 1 delivers the EARLIER t=60s event
    # (still above watermark) -> must extend the session backward; a far
    # event then finalizes it as ONE session 60..100s
    b0 = [(ts(100), "u1")]
    b1 = [(ts(60), "u1")]
    b2 = [(ts(999999), "u9")]
    got = sorted(_run(spark, tmp_path, "sess_ooo", 60.0, "1000 seconds",
                      [b0, b1, b2]))
    assert ("u1", us0 + 60 * US, us0 + 100 * US, 2) in got
    # u9's own tail session is still open -> not emitted
    assert not any(g[0] == "u9" for g in got)


def test_streaming_sessionize_null_keys_dropped(spark, tmp_path):
    t0 = pd.Timestamp("2025-01-01")
    b0 = [(t0, "u1"), (t0 + pd.Timedelta(seconds=5), None),
          (None, "u1")]
    b1 = [(t0 + pd.Timedelta(seconds=99999), "zz")]
    got = _run(spark, tmp_path, "sess_null", 60.0, "10 seconds", [b0, b1])
    us0 = int(t0.timestamp()) * US
    assert got == [("u1", us0, us0, 1)]


def test_streaming_sessionize_validation(spark):
    stream = spark.readStream.schema("ts timestamp, uid string").parquet(
        "/tmp/does_not_matter_sess_*.parquet")
    with pytest.raises(ValueError, match="gap_seconds"):
        streaming_sessionize(stream, "uid", "ts", 0.0)
