"""M5 scale ops: checkpoint-resumable build, streaming dedup,
incremental build."""

import os
import shutil

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
