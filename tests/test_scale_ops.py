"""M5 scale ops: checkpoint-resumable build, skew salting, streaming
dedup, incremental build, multimodal plumbing."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- checkpoint
def test_checkpoint_resume_bit_identical(spark, tmp_path):
    from cuckoo_filter_spark.operators.checkpoint import build_checkpointed
    from cuckoo_filter_spark.operators.sharded import load_sharded_blobs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    keys = docs.select(F.concat_ws("/", "source", "doc_id").alias("key"))
    n = keys.count()

    full_dir = str(tmp_path / "full")
    b1 = build_checkpointed(keys, "key", full_dir, capacity=n, num_shards=8)
    blobs1 = load_sharded_blobs(spark, b1.path)
    assert len(blobs1) == 8

    # simulate a crash after 3 shards: keep only shards 0-2, resume
    partial_dir = str(tmp_path / "partial")
    shutil.copytree(full_dir, partial_dir)
    import pyarrow.parquet as pq
    import pyarrow as pa

    sdir = os.path.join(partial_dir, "shards")
    tbl = pq.read_table(sdir)
    kept = tbl.filter(pa.compute.less(tbl["shard"], 3))
    shutil.rmtree(sdir)
    os.makedirs(sdir)
    pq.write_table(kept, os.path.join(sdir, "part-0.parquet"))

    b2 = build_checkpointed(keys, "key", partial_dir, capacity=n, num_shards=8)
    blobs2 = load_sharded_blobs(spark, b2.path)
    assert blobs1.keys() == blobs2.keys()
    for s in blobs1:
        assert blobs1[s] == blobs2[s], f"shard {s} not bit-identical after resume"


def test_checkpoint_rejects_mismatched_params(spark, tmp_path):
    from cuckoo_filter_spark.operators.checkpoint import build_checkpointed

    keys = spark.createDataFrame([(f"k{i}",) for i in range(100)], "key string")
    d = str(tmp_path / "ck")
    build_checkpointed(keys, "key", d, capacity=100, num_shards=4)
    with pytest.raises(ValueError, match="different build"):
        build_checkpointed(keys, "key", d, capacity=100, num_shards=8)


# ---------------------------------------------------------------- salting
def test_hot_key_detection_and_salted_count(spark):
    from cuckoo_filter_spark.operators.salting import (
        detect_hot_keys,
        salted_group_count,
        salted_repartition,
    )

    rows = [("hot",)] * 5000 + [(f"cold{i}",) for i in range(500)]
    df = spark.createDataFrame(rows, "host string").repartition(8)
    hot = detect_hot_keys(df, "host", threshold_frac=0.05)
    assert "hot" in hot
    assert len(hot) < 10

    counts = {r["host"]: r["n"] for r in salted_group_count(df, "host", hot).collect()}
    assert counts["hot"] == 5000
    assert counts["cold0"] == 1

    rep = salted_repartition(df, "host", hot, num_salts=8, num_partitions=8)
    sizes = [r["c"] for r in rep.groupBy(F.spark_partition_id().alias("p"))
             .agg(F.count(F.lit(1)).alias("c")).collect()]
    assert max(sizes) < 5000, f"hot key not spread: {sizes}"


# ---------------------------------------------------------------- streaming
def test_streaming_dedup(spark, tmp_path):
    from cuckoo_filter_spark.streaming.dedup import streaming_dedup

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(i % 40, f"url{i % 40}") for i in range(200)], "rid long, url string"
    ).write.parquet(f"{src}/batch0.parquet")

    stream = spark.readStream.schema("rid long, url string").parquet(src + "/*.parquet")
    deduped = streaming_dedup(stream, "url", num_shards=4, shard_capacity=10000)
    q = (
        deduped.writeStream.format("memory").queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from dedup_out").collect()
    urls = [r["url"] for r in out]
    assert len(urls) == len(set(urls)) == 40


def test_incremental_filter_build(spark, tmp_path):
    from cuckoo_filter_spark.streaming.incremental import incremental_filter_build

    sink = incremental_filter_build(str(tmp_path / "inc"), "url", capacity=10000)
    b1 = spark.createDataFrame([(f"a{i}",) for i in range(100)], "url string")
    b2 = spark.createDataFrame([(f"b{i}",) for i in range(100)], "url string")
    sink(b1, 0)
    sink(b2, 1)
    kern = sink.current()
    assert kern.size() == 200
    assert kern.contain([b"a5", b"b99"]).all()
    assert not kern.contain([b"c1"]).any()


# ---------------------------------------------------------------- multimodal
def test_multimodal_pipeline(spark):
    from cuckoo_filter_spark.functions.multimodal import (
        frame_sample,
        image_features,
        resize_plan,
        synth_media,
    )

    media = synth_media(spark, 60)
    feats = image_features(media, decode_mode="fake").collect()
    assert len(feats) == 20  # every 3rd row is an image
    for r in feats:
        assert 0 <= r["mean_r"] <= 255 and r["luma_std"] >= 0
    # deterministic across runs
    feats2 = image_features(media, decode_mode="fake").collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, feats2))

    plan = resize_plan(media, target=224).collect()
    for r in plan:
        assert min(r["out_w"], r["out_h"]) in (224, 223, 225)

    frames = frame_sample(media, every_n=10)
    got = frames.groupBy("media_id").count().collect()
    assert all(r["count"] >= 3 for r in got)

    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|decode"):
        image_features(media, decode_mode="strict").collect()


def test_streaming_dedup_survives_restart(spark, tmp_path):
    """State (filter blobs) persists in the streaming checkpoint: a
    second run with the same checkpointLocation dedups against keys
    seen in the first run."""
    from cuckoo_filter_spark.streaming.dedup import streaming_dedup

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    os.makedirs(src)

    out = str(tmp_path / "out")

    def run_once(run_id):
        stream = spark.readStream.schema("rid long, url string").parquet(src + "/*.parquet")
        deduped = streaming_dedup(stream, "url", num_shards=4, shard_capacity=10000)
        q = (
            deduped.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck).trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return [r["url"] for r in spark.read.parquet(out).collect()]

    spark.createDataFrame(
        [(i, f"u{i}") for i in range(30)], "rid long, url string"
    ).write.parquet(f"{src}/b0.parquet")
    first = run_once(1)
    assert sorted(first) == sorted({f"u{i}" for i in range(30)})

    # second batch: 20 repeats + 10 new keys; restart from checkpoint
    spark.createDataFrame(
        [(100 + i, f"u{i}") for i in range(20)] + [(200 + i, f"v{i}",) for i in range(10)],
        "rid long, url string",
    ).write.parquet(f"{src}/b1.parquet")
    second = run_once(2)
    new = set(second) - set(first)
    assert new == {f"v{i}" for i in range(10)}, f"repeats leaked: {sorted(new)}"


def test_hot_key_detection_high_cardinality(spark):
    """10^6 distinct keys + 3 planted hot keys: detection must find the
    hot set WITHOUT materializing the distinct key set on the driver
    (single mapInPandas pass; candidates are batch-level heavy keys)."""
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.operators.salting import detect_hot_keys

    n = 1_200_000
    base = spark.range(n).select(
        F.concat(F.lit("host-"), F.col("id")).alias("host"))
    hot = spark.range(150_000).select(
        F.concat(F.lit("hot-"), (F.col("id") % 3)).alias("host"))
    df = base.unionAll(hot)
    found = detect_hot_keys(df, "host", threshold_frac=0.01)
    assert {"hot-0", "hot-1", "hot-2"}.issubset(set(found))
    # every base key has frequency 1/1.35M << 1% — none should survive
    # the CMS verification (collisions could add a few; bound it)
    assert len(found) <= 10


def test_streaming_dedup_overflow_passthrough(spark, tmp_path):
    """A saturated shard must NOT silently drop new rows: with
    on_overflow='passthrough' (default), first-seen keys keep flowing
    (at-least-once) even after the tiny filters overflow."""
    from cuckoo_filter_spark.streaming.dedup import streaming_dedup

    src = str(tmp_path / "srcov")
    os.makedirs(src)
    n = 4000  # >> 4 shards x capacity 64
    spark.createDataFrame(
        [(i, f"url{i}") for i in range(n)], "rid long, url string"
    ).write.parquet(f"{src}/batch0.parquet")

    stream = spark.readStream.schema("rid long, url string").parquet(src + "/*.parquet")
    deduped = streaming_dedup(stream, "url", num_shards=4, shard_capacity=64)
    q = (
        deduped.writeStream.format("memory").queryName("dedup_ov")
        .option("checkpointLocation", str(tmp_path / "ckov"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    urls = {r["url"] for r in spark.sql("select * from dedup_ov").collect()}
    # every distinct key must appear at least once (allow the documented
    # ~2b/2^f false-positive drop rate, NOT a wholesale drop)
    assert len(urls) >= n * 0.99, f"only {len(urls)}/{n} keys survived overflow"


def test_multimodal_decode_modes(spark):
    """Mode gates, parameterized over PIL availability: 'strict' raises
    without the lib and decodes with it; 'real' decodes a genuine image
    when PIL exists (the real branch is wired, not a stub)."""
    from cuckoo_filter_spark.functions.multimodal import (
        _try_real_image_decoder,
        image_features,
        synth_media,
    )

    media = synth_media(spark, 12)
    if not _try_real_image_decoder():
        with pytest.raises(Exception, match="PIL|NotImplementedError"):
            image_features(media, decode_mode="strict").collect()
        with pytest.raises(ImportError):
            image_features(media, decode_mode="real")
    else:  # pragma: no cover - PIL not in this container
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (8, 4), (10, 20, 30)).save(buf, format="PNG")
        df = spark.createDataFrame(
            [(1, "image", bytearray(buf.getvalue()), 8, 4, 0, 0)],
            "media_id long, kind string, payload binary, width int, "
            "height int, sample_rate int, n_frames int")
        rows = image_features(df, decode_mode="real").collect()
        assert len(rows) == 1
        assert abs(rows[0]["mean_r"] - 10) < 1e-6
        assert abs(rows[0]["mean_b"] - 30) < 1e-6
    with pytest.raises(ValueError):
        image_features(media, decode_mode="nope")


def test_audio_features_real_wav_decode(spark):
    """REAL audio decode (stdlib wave, no external codec): a synthetic
    sine WAV must yield the analytic RMS (amp/sqrt(2)), peak (~amp) and
    zero-crossing rate (~2f/sr)."""
    from cuckoo_filter_spark.functions.multimodal import (
        audio_features,
        synth_wav,
    )

    sr, f, amp = 16000, 440.0, 0.5
    wav = synth_wav(freq_hz=f, seconds=0.5, sample_rate=sr, amplitude=amp)
    rows = [(1, "audio", bytearray(wav), 0, 0, sr, 0),
            (2, "image", bytearray(b"\x00" * 16), 8, 8, 0, 0)]
    from cuckoo_filter_spark.functions.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in audio_features(df, "real").collect()}
    assert set(out) == {1}  # image rows don't leak into audio features
    r = out[1]
    assert abs(r["duration_sec"] - 0.5) < 1e-6
    assert abs(r["rms"] - amp / np.sqrt(2)) < 0.01
    assert abs(r["peak"] - amp) < 0.01
    assert abs(r["zero_cross_rate"] - 2 * f / sr) < 0.005


def test_audio_features_fake_and_strict_nonwav(spark):
    """fake mode is deterministic across calls; real/strict on a
    non-WAV payload fails loud with wave.Error specifically ('file does
    not start with RIFF id'), never silently fakes."""
    from cuckoo_filter_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        audio_features,
        synth_media,
    )

    media = synth_media(spark, n_rows=12)
    a = audio_features(media, "fake").orderBy("media_id").collect()
    b = audio_features(media, "fake").orderBy("media_id").collect()
    assert a == b and len(a) == 4  # every 3rd row is audio
    assert all(0 < r["rms"] < 1 and r["duration_sec"] == 1.0 for r in a)
    bad = spark.createDataFrame(
        [(9, "audio", bytearray(b"not a wav"), 0, 0, 8000, 0)], MEDIA_SCHEMA)
    with pytest.raises(Exception, match="(?i)riff|wave\\.Error"):
        audio_features(bad, "strict").collect()


def test_audio_features_24bit_pcm(spark):
    """24-bit PCM WAVs (sampwidth=3 — no numpy dtype) decode correctly:
    manual sign-extension, analytic sine RMS."""
    import io
    import wave

    from cuckoo_filter_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        audio_features,
    )

    sr, f, amp = 8000, 200.0, 0.25
    t = np.arange(sr // 2) / sr  # 0.5 s
    pcm = (amp * np.sin(2 * np.pi * f * t) * ((1 << 23) - 1)).astype(np.int64)
    raw = bytearray()
    for v in pcm:  # little-endian 3-byte two's complement
        raw += int(v & 0xFFFFFF).to_bytes(3, "little")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(3)
        w.setframerate(sr)
        w.writeframes(bytes(raw))
    df = spark.createDataFrame(
        [(1, "audio", bytearray(buf.getvalue()), 0, 0, sr, 0)], MEDIA_SCHEMA)
    r = audio_features(df, "real").collect()[0]
    assert abs(r["duration_sec"] - 0.5) < 1e-6
    assert abs(r["rms"] - amp / np.sqrt(2)) < 0.01
    assert abs(r["peak"] - amp) < 0.01


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_streaming_dedup_tws_gate_without_protobuf(spark):
    """Without google.protobuf (this container), the tws path must fail
    LOUD at plan time with a pointer to the applyInPandasWithState
    implementation — never an opaque worker crash mid-query."""
    if _has_protobuf():
        pytest.skip("protobuf present — runtime path covered by "
                    "test_streaming_dedup_tws")
    from cuckoo_filter_spark.streaming.dedup_tws import streaming_dedup_tws

    stream = spark.readStream.schema("rid long, url string").parquet(
        "/tmp/does_not_matter_*.parquet")
    with pytest.raises(ImportError, match="applyInPandasWithState"):
        streaming_dedup_tws(stream, "url")


def test_streaming_dedup_tws(spark, tmp_path):
    """Same dedup contract through the Spark 4.x stateful API
    (transformWithStateInPandas + ValueState blob); requires the RocksDB
    state store provider, set for this query and restored after."""
    if not _has_protobuf():
        pytest.skip("transformWithState needs google.protobuf "
                    "(not shipped in this container); the loud gate is "
                    "tested instead")
    from cuckoo_filter_spark.streaming.dedup_tws import streaming_dedup_tws

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(i % 40, f"url{i % 40}") for i in range(200)], "rid long, url string"
    ).write.parquet(f"{src}/batch0.parquet")

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        stream = spark.readStream.schema("rid long, url string").parquet(
            src + "/*.parquet")
        deduped = streaming_dedup_tws(stream, "url", num_shards=4,
                                      shard_capacity=10000)
        q = (
            deduped.writeStream.format("memory").queryName("dedup_tws_out")
            .option("checkpointLocation", str(tmp_path / "ck_tws"))
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        out = spark.sql("select * from dedup_tws_out").collect()
        urls = [r["url"] for r in out]
        assert len(urls) == len(set(urls)) == 40
    finally:
        if prev is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, prev)


def test_frame_sample_and_resize_guard_degenerate_metadata(spark):
    """Corrupt media metadata must not produce phantom work or ANSI
    crashes: a 0-frame video would emit frame_idx=0 via the descending
    sequence(0,-1), and a 0-dimension image would throw DIVIDE_BY_ZERO
    under Spark 4's default ANSI mode."""
    from cuckoo_filter_spark.functions.multimodal import (
        MEDIA_SCHEMA, frame_sample, resize_plan)

    rows = [
        (0, "video", bytearray(b"x"), 0, 0, 0, 0),    # zero frames
        (1, "video", bytearray(b"x"), 0, 0, 0, 25),   # normal video
        (2, "image", bytearray(b"x"), 0, 128, 0, 0),  # zero width
        (3, "image", bytearray(b"x"), 64, 128, 0, 0), # normal image
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = frame_sample(df, every_n=10).collect()
    assert {r["media_id"] for r in frames} == {1}
    assert sorted(r["frame_idx"] for r in frames) == [0, 10, 20]
    plan = resize_plan(df, target=224).collect()
    assert [r["media_id"] for r in plan] == [3]
    assert plan[0]["out_w"] == 224  # short side scaled to target


def test_with_salt_is_retry_deterministic(spark):
    """The salt MUST be retry-deterministic — a monotonically_
    increasing_id/rand salt feeding a shuffle changes on stage retry
    and double-counts or loses rows (the classic Spark nondeterministic-
    shuffle-key hazard). Pin the formula: salt == pmod(xxhash64(all
    columns, spark_partition_id()), S) for hot keys, 0 for cold; and
    byte-identical hot rows spread across salts when they span
    partitions (the case that defeats a pure content hash)."""
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.operators.salting import with_salt

    df = spark.createDataFrame(
        [("hot", i) for i in range(200)] + [("cold", 7)],
        "host string, x int").repartition(8)
    # salt and its expected formula evaluated in the SAME job so the
    # partition lineage is shared
    rows = with_salt(df, "host", ["hot"], num_salts=8).withColumn(
        "e", F.pmod(F.xxhash64("host", "x", F.spark_partition_id()),
                    F.lit(8))).collect()
    for r in rows:
        assert r["__salt"] == (r["e"] if r["host"] == "hot" else 0), r
    assert len({r["__salt"] for r in rows if r["host"] == "hot"}) > 1
    # byte-identical rows across partitions still spread
    dup = spark.createDataFrame([("hot",)] * 2000, "host string").repartition(8)
    salts = {r["__salt"] for r in with_salt(dup, "host", ["hot"], 8).collect()}
    assert len(salts) > 1


def test_checkpoint_rejects_different_input(spark, tmp_path):
    """The manifest embeds an input fingerprint: resuming a partial
    build against a DIFFERENT dataset must fail loud — mixed shards
    would return silent false negatives."""
    import pytest

    from cuckoo_filter_spark.operators.checkpoint import build_checkpointed

    pa, pb = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.range(0, 1000).selectExpr("concat('k', id) key").write.parquet(pa)
    spark.range(500, 1500).selectExpr("concat('k', id) key").write.parquet(pb)
    ckpt = str(tmp_path / "ckpt")
    build_checkpointed(spark.read.parquet(pa), "key", ckpt,
                       capacity=1000, num_shards=4)
    # same input (re-read from the same path): resume is fine
    build_checkpointed(spark.read.parquet(pa), "key", ckpt,
                       capacity=1000, num_shards=4)
    # different input, identical params/capacity: loud
    with pytest.raises(ValueError, match="different build"):
        build_checkpointed(spark.read.parquet(pb), "key", ckpt,
                           capacity=1000, num_shards=4)
    # explicit fingerprint overrides the derived one (dataset version id)
    ckpt2 = str(tmp_path / "ckpt2")
    build_checkpointed(spark.read.parquet(pa), "key", ckpt2, capacity=1000,
                       num_shards=4, input_fingerprint="crawl-v1")
    with pytest.raises(ValueError, match="different build"):
        build_checkpointed(spark.read.parquet(pa), "key", ckpt2,
                           capacity=1000, num_shards=4,
                           input_fingerprint="crawl-v2")


def test_streaming_dedup_drops_null_keys(spark, tmp_path):
    """Null keys have no dedup identity: a numeric NULL used to crash
    the state function (NaN bytes) and a string NULL aliased '' (Arrow
    zero-length view). Contract: null-key rows are dropped."""
    import pandas as pd

    from cuckoo_filter_spark.streaming.dedup import streaming_dedup

    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = pd.DataFrame({"user_id": ["u1", None, "", "u1", None, "u2"]})
    spark.createDataFrame(pdf).write.parquet(f"{src}/b0.parquet")
    stream = spark.readStream.schema("user_id string").parquet(
        src + "/*.parquet")
    out = streaming_dedup(stream, "user_id", num_shards=2,
                          shard_capacity=1 << 12)
    q = (out.writeStream.format("memory").queryName("null_dedup")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = sorted(r["user_id"] for r in
                 spark.sql("select * from null_dedup").collect())
    assert got == ["", "u1", "u2"]  # '' kept distinct; nulls dropped


def test_incremental_build_replayed_batch_is_skipped(spark, tmp_path):
    """foreachBatch is at-least-once on restart: re-invoking the sink
    with an already-committed batch_id must be a no-op (a multiset
    re-merge would double-count every key of the batch)."""
    from cuckoo_filter_spark.streaming.incremental import (
        incremental_filter_build,
    )

    sink = incremental_filter_build(str(tmp_path / "f"), "key",
                                    capacity=10_000, mode="multiset")
    df = spark.createDataFrame([(f"k{i}",) for i in range(100)], "key string")
    sink(df, 0)
    blob_after_first = sink.current().to_bytes()
    sink(df, 0)  # replay — must not merge again
    assert sink.current().to_bytes() == blob_after_first
    k = sink.current()
    # multiset: exactly ONE copy per key stored (a double merge would
    # leave two, and the second delete would succeed)
    idx, tag = k.fingerprints(spark.createDataFrame(
        [("k0",)], "key string").toPandas()["key"])
    assert k.delete_hashed(idx, tag).all()
    assert not k.delete_hashed(idx, tag).any()
    sink(df, 1)  # the NEXT batch still merges
    assert sink.current().to_bytes() != blob_after_first


def test_checkpointed_unique_global_distinct_count(spark, tmp_path):
    """build_checkpointed(mode='unique_global') keeps the counting
    contract of the declared sharded route: exact distinct_keys total on
    the build, per-shard counts in the metrics rows (shape parity), and
    the counts survive a kill-and-resume because they persist in the
    shard parquet."""
    from cuckoo_filter_spark.operators.checkpoint import build_checkpointed

    df = spark.createDataFrame(
        [(f"k{i % 300}",) for i in range(1200)], "key string"
    ).repartition(6)  # duplicates spread across partitions
    d = str(tmp_path / "ug")
    b = build_checkpointed(df, "key", d, capacity=300, num_shards=4,
                           mode="unique_global")
    assert b.distinct_keys == 300
    assert all("distinct_keys" in m for m in b.metrics)
    assert sum(m["distinct_keys"] for m in b.metrics) == 300
    # resume from the completed checkpoint: counts come from the parquet
    b2 = build_checkpointed(df, "key", d, capacity=300, num_shards=4,
                            mode="unique_global")
    assert b2.distinct_keys == 300


def test_null_hot_key_detected_and_salted(spark):
    from cuckoo_filter_spark.operators.salting import (
        detect_hot_keys,
        salted_group_count,
        with_salt,
    )

    rows = [(None,)] * 5000 + [(f"cold{i}",) for i in range(500)]
    df = spark.createDataFrame(rows, "host string").repartition(8)
    hot = detect_hot_keys(df, "host", threshold_frac=0.05)
    assert None in hot  # the NULL mass IS the skew here
    salted = with_salt(df, "host", hot, num_salts=8)
    n_salts = (salted.where(F.col("host").isNull())
               .select("__salt").distinct().count())
    assert n_salts > 1, "NULL rows not spread across salts"
    counts = {r["host"]: r["n"]
              for r in salted_group_count(df, "host", hot).collect()}
    assert counts[None] == 5000 and counts["cold0"] == 1


def test_with_salt_collision_guard(spark):
    from cuckoo_filter_spark.operators.salting import with_salt

    df = spark.createDataFrame([("a", 1)], ["host", "__salt"])
    with pytest.raises(ValueError, match="__salt"):
        with_salt(df, "host", ["a"])


def test_checkpoint_remote_uri_rejected(spark):
    from cuckoo_filter_spark.operators.checkpoint import build_checkpointed

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="remote URI"):
        build_checkpointed(df, "k", "s3a://bucket/ckpt", capacity=10,
                           num_shards=2)


def test_checkpoint_unreadable_nonempty_shards_refuses(spark, tmp_path,
                                                      monkeypatch):
    """A transient/garbage shards dir must REFUSE to resume, not
    silently recompute-and-append duplicate shard rows — also when the
    dir cannot even be listed (the listing OSError is chained, not
    raised raw)."""
    import os
    import pathlib
    import shutil

    from cuckoo_filter_spark.operators.checkpoint import build_checkpointed

    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    ck = str(tmp_path / "ck")
    build_checkpointed(df, "k", ck, capacity=100, num_shards=2)
    # corrupt the shards dir: replace parquet with garbage
    sdir = pathlib.Path(ck) / "shards"
    shutil.rmtree(sdir)
    sdir.mkdir()
    (sdir / "part-00000.parquet").write_bytes(b"not parquet at all")
    with pytest.raises(RuntimeError, match="refusing to resume"):
        build_checkpointed(df, "k", ck, capacity=100, num_shards=2)

    real_scandir = os.scandir

    def scandir(path="."):
        if os.fspath(path) == str(sdir):
            raise PermissionError(13, "Permission denied", str(sdir))
        return real_scandir(path)

    monkeypatch.setattr(os, "scandir", scandir)
    with pytest.raises(RuntimeError, match="refusing to resume") as ei:
        build_checkpointed(df, "k", ck, capacity=100, num_shards=2)
    assert isinstance(ei.value.__cause__, PermissionError)
