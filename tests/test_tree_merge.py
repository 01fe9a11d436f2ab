"""Round-7 optimization pins: the companion-sketch tree merge (VERDICT
r6 #1), the Bloom capacity bound (VERDICT r6 #2), and the
canon_int_keys fail-loud hardening (ADVICE r6)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _keys(spark, n=5000, parts=8):
    return spark.range(n).repartition(parts).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"))


def _uncoalesced(monkeypatch):
    """Keep the ``parts`` partials: at ``local[4]`` the sketch partial
    would otherwise coalesce these tiny inputs to 4 partitions
    (``spread.coalesce_small_input``)."""
    from cuckoo_filter_spark.operators import spread

    monkeypatch.setattr(spread, "DEFAULT_SPREAD_MAX_BYTES", 0)


def test_tree_merge_equals_direct_collect(spark, monkeypatch):
    """The executor-side tree level must be byte/estimate-identical to
    the direct driver reduce (merge associativity is the pinned law)."""
    from cuckoo_filter_spark.sketches import HLLSketch, base
    from cuckoo_filter_spark.sketches.base import build_sketch

    _uncoalesced(monkeypatch)
    df = _keys(spark)
    direct, m_direct = build_sketch(df, "key", lambda: HLLSketch(p=12))
    monkeypatch.setattr(base, "TREE_MERGE_AT", 1)
    tree, m_tree = build_sketch(df, "key", lambda: HLLSketch(p=12))
    assert direct.to_bytes() == tree.to_bytes()
    # metrics keep the same dict shape; tree rows are per merge group
    assert set(m_direct[0]) == set(m_tree[0])
    assert sum(m["rows"] for m in m_direct) == sum(m["rows"] for m in m_tree)


def test_tree_merge_theta_and_bloom_equal(spark, monkeypatch):
    from cuckoo_filter_spark.sketches import base
    from cuckoo_filter_spark.sketches.bloom import build_bloom_deferred
    from cuckoo_filter_spark.sketches.theta import build_theta_sketches

    _uncoalesced(monkeypatch)
    df = _keys(spark, n=3000)
    (a,), _ = build_theta_sketches(df, ["key"], k=256)
    bd, _ = build_bloom_deferred(df, "key", fpp=0.01)
    monkeypatch.setattr(base, "TREE_MERGE_AT", 1)
    (b,), _ = build_theta_sketches(df, ["key"], k=256)
    assert a.to_bytes() == b.to_bytes()

    bt, _ = build_bloom_deferred(df, "key", fpp=0.01)
    assert bd.to_bytes() == bt.to_bytes()
    probes = pd.Series([f"k{i}" for i in range(0, 6000, 7)])
    assert (bd.contains(probes) == bt.contains(probes)).all()


def test_tree_merge_driver_collects_o_sqrt_p_rows(spark, monkeypatch):
    """VERDICT r6 #1 'done' criterion: with the tree active the driver
    collect sees O(merge groups) = O(sqrt(P)) rows, never O(P)."""
    from cuckoo_filter_spark.sketches import HLLSketch, base
    from cuckoo_filter_spark.sketches.base import build_sketch

    _uncoalesced(monkeypatch)
    df = _keys(spark, n=4000, parts=9)  # sqrt(9) = 3 merge groups
    collected = []
    cls = type(df)
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    monkeypatch.setattr(base, "TREE_MERGE_AT", 1)
    sk, metrics = build_sketch(df, "key", lambda: HLLSketch(p=12))
    assert collected == [3], collected  # one collect, 3 group rows (not 9)
    assert len(metrics) == 3
    assert abs(sk.estimate() - 4000) / 4000 < 0.1


def test_bloom_capacity_bound_raises(spark):
    """VERDICT r6 #2: a Bloom build whose partials would be huge must
    fail loud and name the sharded alternative."""
    from cuckoo_filter_spark.sketches.bloom import build_bloom_deferred

    df = _keys(spark, n=500, parts=2)
    with pytest.raises(ValueError, match="build_sharded_cuckoo_filter"):
        build_bloom_deferred(df, "key", fpp=0.01, max_partial_bits=1024)
    with pytest.raises(ValueError, match="build_sharded_cuckoo_filter"):
        build_bloom_deferred(df, "key", fpp=0.01, capacity_hint=500,
                             max_partial_bits=1024)
    # at the default bound the same build sails through
    sk, _ = build_bloom_deferred(df, "key", fpp=0.01)
    assert sk.contains(pd.Series(["k1", "nope"])).tolist() == [True, False]


def test_canon_int_keys_fails_loud():
    """ADVICE r6: non-integral float keys and 2^53-overflow batches must
    raise instead of silently mis-hashing."""
    from cuckoo_filter_spark.hashing import canon_int_keys

    ok = canon_int_keys(pd.Series([1.0, 2.0, 3.0]))
    assert ok.dtype.kind == "i" and ok.tolist() == [1, 2, 3]
    with pytest.raises(TypeError, match="non-integral float"):
        canon_int_keys(pd.Series([2.0, 2.5]))
    with pytest.raises(ValueError, match="2\\^53"):
        canon_int_keys(pd.Series([1.0, float(2**60)]))
    # non-float batches pass through untouched
    s = pd.Series(["a", "b"])
    assert canon_int_keys(s) is s


@pytest.mark.parametrize("api", [
    "build_probe", "sharded_probe", "delete", "theta", "hll", "mg",
    "bloom_deferred",
])
def test_null_batches_keep_int_key_identity(spark, api):
    """VERDICT r6 #4: every public key-consuming API answers identically
    for an int64 key column with and without interleaved NULL batches.
    ``mixed`` holds the SAME non-null key multiset as ``equiv`` plus
    NULL rows confined to their own partitions — Arrow renders those
    partitions' batches as float64, and canon_int_keys must restore
    identity on every path (NULL keys answer/contribute nothing)."""
    clean = spark.range(0, 400).select((F.col("id") * 7).alias("key"))
    extra = spark.range(0, 50).where(F.col("id") % 2 == 0)
    nulls = spark.range(0, 50).select(
        F.when(F.col("id") % 2 == 0, F.col("id") * 7).alias("key"))
    mixed = clean.repartition(3).unionByName(nulls.repartition(2))
    equiv = clean.repartition(3).unionByName(
        extra.select((F.col("id") * 7).alias("key")).repartition(2))
    probe_vals = [0, 7, 49, 77, 399 * 7, 401 * 7, 12345]
    probes = pd.Series(probe_vals, dtype="int64")

    if api == "build_probe":
        from cuckoo_filter_spark.operators.build import build_cuckoo_filter
        from cuckoo_filter_spark.operators.query import might_contain_udf

        b_eq = build_cuckoo_filter(equiv, "key")
        b_mx = build_cuckoo_filter(mixed, "key")
        pdf = spark.createDataFrame([(int(v),) for v in probe_vals],
                                    "key bigint")

        def answers(b):
            return [r["m"] for r in pdf.select(
                might_contain_udf(spark, b)(F.col("key")).alias("m"))
                .collect()]

        r_eq, r_mx = answers(b_eq), answers(b_mx)
        assert r_eq == r_mx
        assert r_mx[:5] == [True] * 5  # real members always hit
    elif api == "sharded_probe":
        from cuckoo_filter_spark.operators.sharded import (
            build_sharded_cuckoo_filter,
        )

        b_eq = build_sharded_cuckoo_filter(equiv, "key", num_shards=4)
        b_mx = build_sharded_cuckoo_filter(mixed, "key", num_shards=4)
        assert (b_eq.contain(probes) == b_mx.contain(probes)).all()
        assert b_mx.contain(probes)[:5].all()
    elif api == "delete":
        from cuckoo_filter_spark.operators.sharded import (
            build_sharded_cuckoo_filter,
            sharded_delete,
        )

        b_eq = build_sharded_cuckoo_filter(equiv, "key", num_shards=4,
                                           mode="multiset")
        b_mx = build_sharded_cuckoo_filter(mixed, "key", num_shards=4,
                                           mode="multiset")
        gone = spark.createDataFrame(
            [(int(7 * i),) for i in range(1, 100, 2)], "key bigint")
        a_eq = sharded_delete(gone, "key", b_eq)
        a_mx = sharded_delete(gone, "key", b_mx)
        assert (a_eq.contain(probes) == a_mx.contain(probes)).all()
    elif api == "theta":
        from cuckoo_filter_spark.sketches.theta import build_theta_sketches

        (a,), _ = build_theta_sketches(equiv, ["key"], k=1024)
        (b,), _ = build_theta_sketches(mixed, ["key"], k=1024)
        assert a.to_bytes() == b.to_bytes()
    elif api == "hll":
        from cuckoo_filter_spark.sketches import HLLSketch
        from cuckoo_filter_spark.sketches.base import build_sketch

        a, _ = build_sketch(equiv, "key", lambda: HLLSketch(p=12))
        b, _ = build_sketch(mixed, "key", lambda: HLLSketch(p=12))
        assert a.to_bytes() == b.to_bytes()
    elif api == "mg":
        from cuckoo_filter_spark.sketches.freq import build_mg_sketches

        (a,), _ = build_mg_sketches(equiv, ["key"], k=1024)
        (b,), _ = build_mg_sketches(mixed, ["key"], k=1024)
        assert a.is_exact() and b.is_exact()
        assert dict(a.guaranteed_at_least(1)) == dict(b.guaranteed_at_least(1))
    elif api == "bloom_deferred":
        from cuckoo_filter_spark.sketches.bloom import build_bloom_deferred

        a, _ = build_bloom_deferred(equiv, "key", fpp=0.01)
        b, _ = build_bloom_deferred(mixed, "key", fpp=0.01)
        assert a.to_bytes() == b.to_bytes()
        # every batch of ``nulls`` is null-bearing: its members must
        # still hit through the int64 identity the probes use
        only, _ = build_bloom_deferred(nulls.repartition(2), "key",
                                       fpp=0.01)
        members = pd.Series(np.arange(0, 50, 2) * 7, dtype="int64")
        assert only.contains(members).all()


@pytest.mark.parametrize("api", ["theta", "mg", "hll", "bloom_deferred"])
def test_sketch_builds_keep_big_int_identity(spark, api):
    """A bigint key column whose null-bearing batches hold values beyond
    2^53: the Arrow sketch paths see int64 plus a validity bitmap (no
    float64 rendering), so every one of the 180 keys keeps its identity
    instead of raising or collapsing into its float64 neighbours."""
    from cuckoo_filter_spark.sketches import HLLSketch
    from cuckoo_filter_spark.sketches.base import build_sketch
    from cuckoo_filter_spark.sketches.bloom import (
        BloomSketch,
        build_bloom_deferred,
    )
    from cuckoo_filter_spark.sketches.freq import build_mg_sketches
    from cuckoo_filter_spark.sketches.theta import build_theta_sketches

    big = spark.range(0, 360, 1, 2).select(
        F.when(F.col("id") % 2 == 0, F.col("id") + F.lit(2**60))
        .alias("key"))
    keys = pd.Series(np.arange(0, 360, 2) + 2**60, dtype="int64")
    if api == "theta":
        (sk,), _ = build_theta_sketches(big, ["key"])
        assert sk.estimate() == 180.0
    elif api == "mg":
        (sk,), _ = build_mg_sketches(big, ["key"])
        assert sk.is_exact()
        assert dict(sk.guaranteed_at_least(1)) == {
            str(k): 1 for k in keys}
    elif api == "hll":
        sk, _ = build_sketch(big, "key", lambda: HLLSketch(p=12))
        ref = HLLSketch(p=12)
        ref.update(keys)
        assert sk.to_bytes() == ref.to_bytes()
    else:
        sk, _ = build_bloom_deferred(big, "key", fpp=0.01)
        ref = BloomSketch(capacity=180, fpp=0.01)
        ref.update(keys)
        assert sk.to_bytes() == ref.to_bytes()
        assert sk.contains(keys).all()
