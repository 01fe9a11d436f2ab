"""Sharded build: membership parity with single-filter build, routing,
and broadcast probe UDF."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoo_filter_spark.operators.build import build_cuckoo_filter
from cuckoo_filter_spark.operators.sharded import (
    build_sharded_cuckoo_filter,
    sharded_might_contain_udf,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def keys_df(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return docs.select(F.concat_ws("/", "source", "doc_id").alias("key"))


def test_sharded_matches_single(spark, keys_df):
    n = keys_df.count()
    single = build_cuckoo_filter(keys_df, "key", capacity=n)
    sharded = build_sharded_cuckoo_filter(keys_df, "key", capacity=n, num_shards=8)
    assert sharded.size == n
    members = [r["key"] for r in keys_df.collect()]
    assert sharded.contain(members).all(), "false negative in sharded filter"
    probes = [f"absent{i}" for i in range(20000)]
    sk = single.kernel()
    fp_single = sk.contain(probes).mean()
    fp_sharded = sharded.contain(probes).mean()
    assert fp_sharded <= max(4 * fp_single, 0.001) + 1e-9


def test_sharded_udf(spark, keys_df):
    sharded = build_sharded_cuckoo_filter(keys_df, "key", num_shards=4)
    mc = sharded_might_contain_udf(spark, sharded)
    hits = keys_df.where(mc(F.col("key"))).count()
    assert hits == keys_df.count()


def test_sharded_metrics_lineage(spark, keys_df):
    sharded = build_sharded_cuckoo_filter(keys_df, "key", num_shards=8)
    assert len(sharded.metrics) <= 8
    assert sum(m["stored"] for m in sharded.metrics) == keys_df.count()
    assert all(m["load_factor"] <= 0.97 for m in sharded.metrics)


def test_sharded_join_probe_matches_broadcast(spark, keys_df, tmp_path):
    from cuckoo_filter_spark.operators.sharded import sharded_might_contain_join
    from pyspark.sql import functions as F

    build = build_sharded_cuckoo_filter(
        keys_df, "key", num_shards=8, output_path=str(tmp_path / "shards")
    )
    build.load_blobs(spark)
    # probe = members + definite non-members
    members = keys_df
    absent = spark.createDataFrame([(f"nope{i}",) for i in range(2000)], "key string")
    probe = members.unionByName(absent)

    joined = sharded_might_contain_join(probe, "key", build)
    got = {r["key"]: r["might_contain"] for r in joined.collect()}
    mc = sharded_might_contain_udf(spark, build)
    want = {r["key"]: r["hit"]
            for r in probe.withColumn("hit", mc(F.col("key"))).collect()}
    assert got == want
    # all members flagged true
    for r in members.collect():
        assert got[r["key"]]


def test_sharded_join_probe_xxhash(spark, keys_df, tmp_path):
    from cuckoo_filter_spark.operators.sharded import sharded_might_contain_join

    build = build_sharded_cuckoo_filter(
        keys_df, "key", num_shards=4, hash_fn="xxhash64",
        output_path=str(tmp_path / "shards_xx"),
    )
    joined = sharded_might_contain_join(keys_df, "key", build)
    assert joined.where("might_contain").count() == keys_df.count()


def test_sharded_delete_parity(spark, keys_df):
    """Distributed delete matches reference semantics: every inserted key
    deletes exactly once; remaining members still hit; deleted keys that
    were unique to their (pair, tag) stop hitting (no false negatives on
    survivors is the hard guarantee)."""
    from cuckoo_filter_spark.operators.sharded import sharded_delete

    n = keys_df.count()
    build = build_sharded_cuckoo_filter(
        keys_df, "key", capacity=n, num_shards=8, mode="multiset")
    gone = keys_df.where(F.crc32("key") % 3 == 0)
    keep = keys_df.where(F.crc32("key") % 3 != 0)
    after = sharded_delete(gone, "key", build)
    assert sum(m["deleted"] for m in after.metrics) == gone.count()
    assert sum(m["requested"] for m in after.metrics) == gone.count()
    # survivors: zero false negatives
    keep_keys = [r["key"] for r in keep.collect()]
    assert after.contain(keep_keys).all()
    # multiset: a second delete of the same keys must fail for keys whose
    # fingerprint now has zero copies — total stored dropped by deleted
    assert after.size == n - gone.count()


def test_sharded_delete_untouched_shards_pass_through(spark, keys_df):
    from cuckoo_filter_spark.operators.sharded import sharded_delete

    build = build_sharded_cuckoo_filter(keys_df, "key", num_shards=8,
                                        mode="multiset")
    none = spark.createDataFrame([], "key string")
    after = sharded_delete(none, "key", build)
    assert after.blobs == build.blobs  # byte-identical pass-through
    assert sum(m["deleted"] for m in after.metrics) == 0


def test_sharded_delete_absent_keys(spark, keys_df):
    """Deleting never-inserted keys: deleted counts only fingerprint
    collisions (reference Delete returns false on miss)."""
    from cuckoo_filter_spark.operators.sharded import sharded_delete

    build = build_sharded_cuckoo_filter(keys_df, "key", num_shards=4,
                                        mode="multiset")
    absent = spark.createDataFrame(
        [(f"never-inserted-{i}",) for i in range(500)], "key string")
    after = sharded_delete(absent, "key", build)
    deleted = sum(m["deleted"] for m in after.metrics)
    assert deleted <= 5  # only rare fingerprint collisions may delete
    members = [r["key"] for r in keys_df.collect()]
    hits = after.contain(members)
    assert hits.sum() >= len(members) - deleted


def test_shard_of_single_shard():
    """num_shards=1: h >> 64 is UB — must route everything to shard 0."""
    from cuckoo_filter_spark.operators.sharded import shard_of

    h = np.random.default_rng(7).integers(0, 2**64, 1000, dtype=np.uint64)
    assert (shard_of(h, 1) == 0).all()


def test_shard_of_uniformity():
    """Shard assignment is deterministic and roughly uniform: with
    400k random hashes over 64 shards, every shard holds its expected
    share within 20% (the independent re-hash must not skew routing)."""
    from cuckoo_filter_spark.operators.sharded import shard_of

    rng = np.random.default_rng(17)
    h = rng.integers(0, 2**64, 400_000, dtype=np.uint64)
    s1 = shard_of(h, 64)
    assert np.array_equal(s1, shard_of(h, 64))  # deterministic
    assert s1.min() >= 0 and s1.max() < 64
    counts = np.bincount(s1, minlength=64)
    exp = len(h) / 64
    assert counts.min() > exp * 0.8 and counts.max() < exp * 1.2, (
        counts.min(), counts.max())


def test_xxh64_long_scalar_reference():
    """xxh64_long_batch vs a direct scalar transcription of the
    published XXH64 algorithm for an 8-byte input (no Spark needed —
    the JVM parity test is the other anchor)."""
    from cuckoo_filter_spark.hashing import xxh64_long_batch

    P1, P2, P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
    P4, P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
    M = (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M

    def ref(word, seed=42):
        acc = (seed + P5 + 8) & M
        acc ^= rotl((word * P2) & M, 31) * P1 & M
        acc &= M
        acc = (rotl(acc, 27) * P1 + P4) & M
        acc ^= acc >> 33
        acc = (acc * P2) & M
        acc ^= acc >> 29
        acc = (acc * P3) & M
        acc ^= acc >> 32
        return acc

    rng = np.random.default_rng(23)
    h = rng.integers(0, 2**64, 500, dtype=np.uint64)
    got = xxh64_long_batch(h)
    for i in range(len(h)):
        assert int(got[i]) == ref(int(h[i])), i


def test_shard_hash_jvm_parity(spark):
    """shard_of's independent re-hash (xxh64-of-word, seed 42) must
    equal Spark's JVM xxhash64 over the same long column — the contract
    that makes _shard_expr_jvm and the Python emitters route identically
    for hash_fn='xxhash64' builds."""
    from cuckoo_filter_spark.hashing import xxh64_long_batch
    from cuckoo_filter_spark.operators.sharded import shard_of

    rng = np.random.default_rng(11)
    h = rng.integers(0, 2**64, 4096, dtype=np.uint64)
    df = spark.createDataFrame(
        [(int(np.int64(x)),) for x in h.view(np.int64)], "h long")
    jvm = np.array([r["g"] for r in
                    df.select(F.xxhash64("h").alias("g")).collect()],
                   dtype=np.int64).view(np.uint64)
    ours = xxh64_long_batch(h)
    assert (ours == jvm).all()
    # and the full shard derivation agrees with the JVM expression
    from cuckoo_filter_spark.operators.sharded import _shard_expr_jvm
    for s in (2, 32, 1 << 17):
        jvm_sh = np.array([r["s"] for r in df.select(
            _shard_expr_jvm(F.col("h"), s).alias("s")).collect()])
        assert (shard_of(h, s) == jvm_sh).all(), s


def test_shard_of_index_independence():
    """ADVICE r3 (medium): with hashes confined to ONE shard, the
    bucket-index distribution must still cover the whole table — the
    regime log2(S)+log2(nb) > 32 where top-of-hash shard bits stranded
    most buckets."""
    from cuckoo_filter_spark.operators.sharded import shard_of
    from cuckoo_filter_spark.params import CuckooParams

    S = 16
    nb = 1 << 29  # log2(S)+log2(nb) = 33 > 32: pre-fix, one shard's
    # indices sat in one contiguous 2^28 half of the table
    rng = np.random.default_rng(3)
    h = rng.integers(0, 2**64, 400_000, dtype=np.uint64)
    sh = shard_of(h, S)
    one = h[sh == sh[0]]  # keys of a single shard
    params = CuckooParams(4, 16, nb)
    idx, _ = params.split(one)
    # uniform coverage: indices from one shard span the full range in
    # every 1/16th of the table (pre-fix they sat in one 2^32/S slice)
    counts, _ = np.histogram(idx, bins=16, range=(0, nb))
    assert (counts > 0).all(), counts


def test_sharded_build_single_shard(spark, keys_df):
    build = build_sharded_cuckoo_filter(keys_df, "key", num_shards=1)
    assert set(build.blobs) == {0}
    members = [r["key"] for r in keys_df.collect()]
    assert build.contain(members).all()


def test_sharded_delete_output_path_keeps_unroutable_metrics(spark, keys_df,
                                                             tmp_path):
    """Delete keys routed to never-built shards must stay visible in the
    metrics (requested>0, deleted=0) even when shard blobs are persisted
    to parquet (the null-blob rows are excluded from the FILES, not the
    accounting)."""
    from cuckoo_filter_spark.operators.sharded import sharded_delete

    # build over a single shard id by using one shard
    build = build_sharded_cuckoo_filter(keys_df, "key", num_shards=2,
                                        mode="multiset")
    # drop one shard's blob to simulate an unroutable target
    lone = dict(list(build.blobs.items())[:1])
    build.blobs = lone
    absent_shard_keys = keys_df  # half route to the missing shard
    after = sharded_delete(absent_shard_keys, "key", build,
                           output_path=str(tmp_path / "upd"))
    req = sum(m["requested"] for m in after.metrics)
    dele = sum(m["deleted"] for m in after.metrics)
    assert req == keys_df.count()
    assert dele < req  # the missing shard's requests deleted nothing
    blobs = after.load_blobs(spark)
    assert len(blobs) == 1  # parquet holds only real blobs


def test_sharded_vacuum_membership_and_space(spark, keys_df):
    """TABLE_VACUUM composes with sharding: no false negatives, FP in
    line with f=16, and strictly fewer table bytes than the pow2 rule
    at the same per-shard capacity."""
    from cuckoo_filter_spark.params import TABLE_VACUUM, CuckooParams

    # capacity just above a pow2 boundary per shard — the case the
    # non-pow2 sizing exists for (tiny capacities hit the 64-bucket
    # vacuum floor, where the layouts tie)
    cap = 118_000
    build = build_sharded_cuckoo_filter(
        keys_df, "key", capacity=cap, num_shards=8, table_type=TABLE_VACUUM)
    assert build.params.table_type == TABLE_VACUUM
    members = [r["key"] for r in keys_df.collect()]
    assert build.contain(members).all(), "false negative in sharded vacuum"
    probes = [f"absent{i}" for i in range(20000)]
    assert build.contain(probes).mean() <= 0.001
    # space: vacuum shard table < pow2 shard table for equal capacity
    per_shard_cap = max(int(cap * 1.15 / 8), 64)
    pow2 = CuckooParams.for_capacity(per_shard_cap, 4, 16)
    assert build.params.size_in_bytes() < pow2.size_in_bytes()


def test_sharded_vacuum_udf_and_delete(spark, keys_df):
    """Broadcast probe + distributed delete run unchanged on vacuum
    shards (layout-aware split/alt routed via params)."""
    from cuckoo_filter_spark.operators.sharded import sharded_delete
    from cuckoo_filter_spark.params import TABLE_VACUUM

    build = build_sharded_cuckoo_filter(
        keys_df, "key", num_shards=4, table_type=TABLE_VACUUM,
        mode="multiset")
    mc = sharded_might_contain_udf(spark, build)
    assert keys_df.where(mc(F.col("key"))).count() == keys_df.count()
    gone = keys_df.limit(50)
    after = sharded_delete(gone, "key", build)
    assert sum(m["deleted"] for m in after.metrics) == 50


def test_shard_format_version_gates_stale_artifacts(spark, keys_df, tmp_path):
    """ADVICE r4: shard parquet persisted before the r4 routing/vacuum
    changes must fail loud on probe, not return silent false negatives.
    Pre-r5 artifacts have no format_version column; wrong-version rows
    are rejected too."""
    from cuckoo_filter_spark.operators.sharded import (
        SHARD_FORMAT_VERSION,
        build_sharded_cuckoo_filter,
        check_shard_format,
        load_sharded_blobs,
        sharded_might_contain_join,
    )

    path = str(tmp_path / "shards.parquet")
    build = build_sharded_cuckoo_filter(
        keys_df, "key", capacity=2_000, num_shards=4, output_path=path)
    # current-format artifact loads and probes fine
    assert len(load_sharded_blobs(spark, path)) == 4
    probe = keys_df.limit(50)
    assert (sharded_might_contain_join(probe, "key", build)
            .where(F.col("might_contain")).count() == 50)

    # stale: column missing entirely (pre-r5 artifact)
    stale_dir = str(tmp_path / "stale.parquet")
    spark.read.parquet(path).drop("format_version").write.parquet(stale_dir)
    with pytest.raises(ValueError, match="unversioned shard artifact"):
        load_sharded_blobs(spark, stale_dir)
    build.path = stale_dir
    build.blobs = {}
    with pytest.raises(ValueError, match="unversioned shard artifact"):
        sharded_might_contain_join(probe, "key", build).count()

    # explicitly-passed frames get the same guard (join AND delete)
    stale_frame = spark.read.parquet(stale_dir)
    build.path = path
    with pytest.raises(ValueError, match="unversioned shard artifact"):
        sharded_might_contain_join(probe, "key", build,
                                   shards_df=stale_frame).count()
    from cuckoo_filter_spark.operators.sharded import sharded_delete

    with pytest.raises(ValueError, match="unversioned shard artifact"):
        sharded_delete(probe, "key", build, shards_df=stale_frame)

    # stale: wrong version value
    wrong_dir = str(tmp_path / "wrong.parquet")
    (spark.read.parquet(path)
     .withColumn("format_version", F.lit(SHARD_FORMAT_VERSION - 1))
     .write.parquet(wrong_dir))
    with pytest.raises(ValueError, match="format_version"):
        check_shard_format(spark.read.parquet(wrong_dir), "test")


def test_checkpoint_manifest_rejects_stale_format(spark, keys_df, tmp_path):
    """A pre-r5 checkpoint dir (manifest without format_version) must
    refuse to resume instead of silently mixing shard formats."""
    import json
    import os

    from cuckoo_filter_spark.operators.checkpoint import build_checkpointed

    ckpt = str(tmp_path / "ckpt")
    build_checkpointed(
        keys_df, "key", checkpoint_dir=ckpt, capacity=2_000, num_shards=4)
    mp = os.path.join(ckpt, "_build_manifest.json")
    m = json.loads(open(mp).read())
    assert m["format_version"] == 2
    del m["format_version"]  # simulate a pre-r5 checkpoint
    with open(mp, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="different build"):
        build_checkpointed(
            keys_df, "key", checkpoint_dir=ckpt, capacity=2_000, num_shards=4)


def test_shard_router_no_index_confinement_at_large_geometry():
    """VERDICT r4 #6: at S=2^17 shards x nb=2^22 per-shard buckets (the
    10^12-key regime that motivated the independent re-hash; S x nb =
    2^39 >> 2^32) every shard's primary-index distribution must span the
    full bucket range. Pre-r4 top-of-hash shard bits confined each
    shard's hi32 to a 2^32/S slice, i.e. an index span of ~nb/128 at
    this geometry. Hash-level only — no table is built."""
    from cuckoo_filter_spark.operators.sharded import shard_of
    from cuckoo_filter_spark.params import TABLE_SINGLE, CuckooParams

    S, nb = 1 << 17, 1 << 22
    p = CuckooParams(4, 16, nb, TABLE_SINGLE)
    rng = np.random.default_rng(11)
    h = rng.integers(0, 2**64, 4_000_000, dtype=np.uint64)
    shards = shard_of(h, S)
    idx, _ = p.split(h)

    order = np.argsort(shards, kind="stable")
    ii = idx[order].astype(np.int64)
    ss = shards[order]
    starts = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
    counts = np.diff(np.r_[starts, len(ss)])
    mins = np.minimum.reduceat(ii, starts)
    maxs = np.maximum.reduceat(ii, starts)
    spans = (maxs - mins)[counts >= 12] / nb
    assert len(spans) > 50_000  # ~all 2^17 shards are populated
    # uniform per-shard indices: expected span with n>=12 samples is
    # (n-1)/(n+1) >= 0.84; slice confinement would pin ~0.008
    assert spans.mean() > 0.5, spans.mean()
    assert (spans > 0.25).mean() > 0.95, (spans > 0.25).mean()


def test_duplicate_shard_blob_rows_raise(spark, keys_df):
    """Probing/deleting only blob row iloc[0] when a shard has multiple
    blob rows silently misses the other blob's memberships (join) or
    drops it from the artifact (delete) — both must fail loud, same
    policy as the grouped probes."""
    import pytest

    from cuckoo_filter_spark.operators.sharded import (
        build_sharded_cuckoo_filter,
        sharded_delete,
        sharded_might_contain_join,
    )

    build = build_sharded_cuckoo_filter(keys_df, "key", capacity=2_000,
                                        num_shards=4)
    frame = spark.createDataFrame(
        [(int(s), bytearray(b), 2) for s, b in build.blobs.items()],
        "shard int, blob binary, format_version int")
    doubled = frame.unionByName(frame)
    probe = keys_df.limit(50)
    with pytest.raises(Exception, match="blob rows"):
        sharded_might_contain_join(probe, "key", build,
                                   shards_df=doubled).count()
    with pytest.raises(Exception, match="blob rows"):
        sharded_delete(probe, "key", build, shards_df=doubled)


def test_xxhash64_build_excludes_null_keys(spark):
    """F.xxhash64(NULL) returns the seed 42 (non-null), which would slip
    past the notna() filter: null keys must not inflate distinct_keys or
    store a phantom fingerprint — COUNT(DISTINCT) null exclusion holds
    on both hash routes."""
    from cuckoo_filter_spark.operators.sharded import (
        build_sharded_cuckoo_filter,
    )

    rows = [(f"k{i}",) for i in range(500)] + [(None,)] * 50
    df = spark.createDataFrame(rows, "key string")
    bx = build_sharded_cuckoo_filter(df, "key", capacity=600, num_shards=4,
                                     mode="unique_global", hash_fn="xxhash64")
    bm = build_sharded_cuckoo_filter(df, "key", capacity=600, num_shards=4,
                                     mode="unique_global")
    assert bx.distinct_keys == 500 == bm.distinct_keys
    assert sum(m["stored"] for m in bx.metrics) == 500


def test_shard_geometry_counts_present_keys_only(spark):
    """Unsized sharded builds size shards from the keys the partials
    store. 90% NULL string keys: metro64 and xxhash64 choose the same
    buckets per shard (counting NULL rows made metro64's 8x larger);
    NaN double keys are not stored either."""
    from cuckoo_filter_spark.operators.sharded import shard_geometry
    from cuckoo_filter_spark.params import TABLE_SINGLE

    df = spark.range(0, 100_000, 1, 4).select(
        F.when(F.col("id") % 10 == 0, F.concat(F.lit("u"), F.col("id")))
        .alias("key"))
    bm = build_sharded_cuckoo_filter(df, "key", num_shards=4)
    bx = build_sharded_cuckoo_filter(df, "key", num_shards=4,
                                     hash_fn="xxhash64")
    assert bm.params.num_buckets == bx.params.num_buckets
    assert sum(m["stored"] for m in bm.metrics) == 10_000
    nan = spark.range(0, 1000, 1, 2).select(
        F.when(F.col("id") % 4 == 0, F.col("id").cast("double"))
        .otherwise(F.lit(float("nan"))).alias("key"))
    assert shard_geometry(nan, "key", None, 4, 4, 16, TABLE_SINGLE,
                          "unique_local", 1.0)[0] == 250


@pytest.fixture(scope="module")
def dup_null_df(spark):
    """9,000 rows over 4 partitions: each key on three consecutive rows
    (so copies share a partition and the pair dedupe folds them), and
    every 10th row NULL."""
    return spark.range(0, 9_000, numPartitions=4).select(
        F.when(F.col("id") % 10 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("r"), (F.col("id") / 3).cast("long")))
        .alias("key"))


@pytest.mark.parametrize("mode", ["unique_local", "unique_global",
                                  "multiset"])
def test_sharded_rows_metric_counts_non_null_rows(spark, dup_null_df, mode):
    """A shard's ``rows`` counts its non-null input rows, before the
    pair dedupe: the shard rows sum to the non-null row count."""
    nonnull = dup_null_df.where(F.col("key").isNotNull()).count()
    b = build_sharded_cuckoo_filter(dup_null_df, "key", num_shards=8,
                                    mode=mode)
    assert sum(m["rows"] for m in b.metrics) == nonnull == 8_100


def test_checkpointed_and_auto_shard_rows_metric(spark, dup_null_df,
                                                 tmp_path):
    from cuckoo_filter_spark.operators.checkpoint import build_checkpointed
    from cuckoo_filter_spark.operators.sharded import ShardedCuckooBuild

    nonnull = dup_null_df.where(F.col("key").isNotNull()).count()
    ck = build_checkpointed(dup_null_df, "key", str(tmp_path / "ck"),
                            num_shards=8, input_fingerprint="dup-null")
    assert sum(m["rows"] for m in ck.metrics) == nonnull
    # deferred (observed count) and declared-capacity auto-shard routes
    for capacity in (None, 9_000):
        for mode in ("unique_local", "multiset"):
            b = build_cuckoo_filter(dup_null_df, "key", capacity=capacity,
                                    mode=mode, auto_shard=1_000)
            assert isinstance(b, ShardedCuckooBuild)
            assert sum(m["rows"] for m in b.metrics) == nonnull, (capacity,
                                                                  mode)


def test_builders_reject_unknown_mode(spark, dup_null_df, tmp_path):
    """A mode typo fails before any Spark job or manifest write instead
    of silently building a unique_local filter."""
    from cuckoo_filter_spark.operators.checkpoint import build_checkpointed

    with pytest.raises(ValueError, match="unknown mode"):
        build_cuckoo_filter(dup_null_df, "key", mode="unique-global")
    with pytest.raises(ValueError, match="unknown mode"):
        build_sharded_cuckoo_filter(dup_null_df, "key", num_shards=8,
                                    mode="unique-global")
    ck = tmp_path / "ck"
    with pytest.raises(ValueError, match="unknown mode"):
        build_checkpointed(dup_null_df, "key", str(ck), num_shards=8,
                           mode="unique-global")
    assert not (ck / "_build_manifest.json").exists()


def test_builders_reject_non_power_of_two_shard_count(spark, dup_null_df,
                                                      tmp_path):
    """Shards route by the top log2(S) hash bits, so S=6 would build
    only shards 0-3, each at 1.5x its planned load, under a manifest
    that records 6. Both sharded builders share one geometry step and
    refuse it before any manifest write."""
    from cuckoo_filter_spark.operators.checkpoint import build_checkpointed

    with pytest.raises(ValueError, match="power of two"):
        build_sharded_cuckoo_filter(dup_null_df, "key", num_shards=6)
    ck = tmp_path / "ck"
    with pytest.raises(ValueError, match="power of two"):
        build_checkpointed(dup_null_df, "key", str(ck), capacity=60_000,
                           num_shards=6)
    assert not (ck / "_build_manifest.json").exists()
