"""Companion sketches: estimate bounds, merge associativity, round-trip
(build plan M4; north_rule 'matching the reference's sketch estimates
within the algorithm's published error bound')."""

import numpy as np
import pytest

from cuckoo_filter_spark.sketches import (
    BloomSketch,
    CountMinSketch,
    HLLSketch,
    KLLSketch,
    TDigestSketch,
)


def _keys(rng, n, prefix=b"k"):
    return [prefix + str(i).encode() for i in range(n)]


# ---------------------------------------------------------------- bloom
def test_bloom_no_false_negatives_and_fpp(rng):
    bl = BloomSketch(capacity=10000, fpp=0.01)
    keys = _keys(rng, 10000)
    bl.update(keys)
    assert bl.contains(keys).all()
    probes = [b"absent" + str(i).encode() for i in range(50000)]
    fp = bl.contains(probes).mean()
    assert fp < 0.03, f"bloom fp {fp}"


def test_bloom_merge_is_union(rng):
    a = BloomSketch(n_bits=1 << 16, n_hashes=7)
    b = BloomSketch(n_bits=1 << 16, n_hashes=7)
    ka, kb = _keys(rng, 500, b"a"), _keys(rng, 500, b"b")
    a.update(ka)
    b.update(kb)
    m = BloomSketch.from_bytes(a.to_bytes()).merge(b)
    assert m.contains(ka).all() and m.contains(kb).all()
    # merge == build-together
    both = BloomSketch(n_bits=1 << 16, n_hashes=7)
    both.update(ka + kb)
    assert np.array_equal(m.bits, both.bits)


def test_bloom_roundtrip(rng):
    bl = BloomSketch(capacity=100)
    bl.update(_keys(rng, 100))
    assert BloomSketch.from_bytes(bl.to_bytes()).to_bytes() == bl.to_bytes()


# ---------------------------------------------------------------- hll
@pytest.mark.parametrize("n", [100, 5000, 200000])
def test_hll_error_bound(n):
    h = HLLSketch(p=14)
    h.update([str(i).encode() for i in range(n)])
    est = h.estimate()
    tol = 4 * h.relative_error()  # 4σ
    assert abs(est - n) / n < tol, f"n={n} est={est}"


def test_hll_merge_equals_union():
    a, b = HLLSketch(p=12), HLLSketch(p=12)
    a.update([f"x{i}".encode() for i in range(10000)])
    b.update([f"x{i}".encode() for i in range(5000, 15000)])  # overlap
    merged = HLLSketch.from_bytes(a.to_bytes()).merge(b)
    both = HLLSketch(p=12)
    both.update([f"x{i}".encode() for i in range(15000)])
    assert np.array_equal(merged.registers, both.registers)
    assert abs(merged.estimate() - 15000) / 15000 < 4 * merged.relative_error()


# ---------------------------------------------------------------- count-min
def test_countmin_overestimate_bound(rng):
    cms = CountMinSketch(width=1 << 14, depth=4)
    # zipf-ish frequencies
    items = []
    for i in range(200):
        items += [f"item{i}".encode()] * (200 - i)
    cms.update(items)
    truth = {f"item{i}".encode(): 200 - i for i in range(200)}
    est = cms.query(list(truth.keys()))
    true = np.array(list(truth.values()))
    assert (est >= true).all(), "count-min must never underestimate"
    assert (est - true).max() <= cms.error_bound() * 3


def test_countmin_merge_additive(rng):
    a = CountMinSketch(width=1 << 12, depth=4)
    b = CountMinSketch(width=1 << 12, depth=4)
    a.update([b"x"] * 10)
    b.update([b"x"] * 7 + [b"y"] * 3)
    m = CountMinSketch.from_bytes(a.to_bytes()).merge(b)
    assert m.query([b"x"])[0] >= 17
    assert m.total == 20


# ---------------------------------------------------------------- t-digest
def test_tdigest_quantile_accuracy(rng):
    data = rng.normal(100, 15, size=200_000)
    td = TDigestSketch(delta=200)
    for chunk in np.array_split(data, 10):
        td.update(chunk)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = td.quantile(q)
        true = np.quantile(data, q)
        spread = data.std()
        assert abs(est - true) < 0.02 * spread + 1e-9, (q, est, true)


def test_tdigest_merge(rng):
    data = rng.exponential(10, size=100_000)
    parts = np.array_split(data, 7)
    digs = []
    for p in parts:
        t = TDigestSketch(delta=200)
        t.update(p)
        digs.append(TDigestSketch.from_bytes(t.to_bytes()))
    merged = digs[0]
    for d in digs[1:]:
        merged.merge(d)
    assert merged.count == len(data)
    for q in (0.1, 0.5, 0.9, 0.99):
        est = merged.quantile(q)
        true = np.quantile(data, q)
        assert abs(est - true) < 0.03 * data.std() + 1e-9, (q, est, true)
    assert merged.quantile(0.0) <= data.min() + 1e-9
    assert merged.quantile(1.0) >= data.max() - 1e-9


# ---------------------------------------------------------------- kll
def test_kll_rank_error(rng):
    data = rng.uniform(0, 1, size=300_000)
    kll = KLLSketch(k=200)
    for chunk in np.array_split(data, 20):
        kll.update(chunk)
    for q in (0.01, 0.1, 0.5, 0.9, 0.99):
        est = kll.quantile(q)
        true_rank = (data <= est).mean()
        assert abs(true_rank - q) < 0.03, (q, est, true_rank)


def test_kll_merge(rng):
    data = rng.normal(0, 1, size=100_000)
    parts = np.array_split(data, 5)
    sks = []
    for i, p in enumerate(parts):
        s = KLLSketch(k=200, seed=i + 1)
        s.update(p)
        sks.append(KLLSketch.from_bytes(s.to_bytes()))
    merged = sks[0]
    for s in sks[1:]:
        merged.merge(s)
    assert merged.count == len(data)
    for q in (0.25, 0.5, 0.75):
        est = merged.quantile(q)
        true_rank = (data <= est).mean()
        assert abs(true_rank - q) < 0.04, (q, est, true_rank)


# ---------------------------------------------------------------- spark builds
def test_sketch_spark_builds(spark):
    from cuckoo_filter_spark.sketches.base import build_sketch

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact = ev.select("user_id").distinct().count()

    hll, metrics = build_sketch(ev, "user_id", lambda: HLLSketch(p=14))
    assert abs(hll.estimate() - exact) <= max(4 * hll.relative_error() * exact, 2)
    assert sum(m["rows"] for m in metrics) == ev.count()

    td, _ = build_sketch(ev, "value", lambda: TDigestSketch(delta=200), value_kind="numeric")
    vals = np.array([r["value"] for r in ev.select("value").collect()])
    assert abs(td.quantile(0.5) - np.quantile(vals, 0.5)) < 0.05 * vals.std() + 1e-9

    kll, _ = build_sketch(ev, "value", lambda: KLLSketch(k=200), value_kind="numeric")
    med = kll.quantile(0.5)
    assert abs((vals <= med).mean() - 0.5) < 0.05

    cms, _ = build_sketch(ev, "event_type", lambda: CountMinSketch(width=1 << 12, depth=4))
    import pandas as pd

    truth = ev.groupBy("event_type").count().collect()
    for r in truth:
        est = cms.query(pd.Series([r["event_type"]]))[0]
        assert est >= r["count"]
        assert est - r["count"] <= cms.error_bound() * 3

    bl, _ = build_sketch(ev, "user_id", lambda: BloomSketch(n_bits=1 << 14, n_hashes=7))
    users = pd.Series([r["user_id"] for r in ev.select("user_id").distinct().collect()])
    assert bl.contains(users).all()


def test_build_bloom_deferred_matches_counted_build(spark):
    """VERDICT r4 #4: deferred sizing (hash checkpoint -> count -> size
    -> insert from checkpoint) must produce byte-identical bits to the
    classic count-then-build path, with no rescan of the source."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.sketches import BloomSketch
    from cuckoo_filter_spark.sketches.base import build_sketch
    from cuckoo_filter_spark.sketches.bloom import build_bloom_deferred

    df = spark.range(5_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"))
    n = df.count()
    ref, _ = build_sketch(df, "key", lambda: BloomSketch(capacity=n, fpp=0.01))
    got, metrics = build_bloom_deferred(df, "key", fpp=0.01)
    assert (got.n_bits, got.n_hashes) == (ref.n_bits, ref.n_hashes)
    assert np.array_equal(got.bits, ref.bits)
    assert sum(m["rows"] for m in metrics) == n
    # capacity_hint path: one-pass, still no false negatives
    hinted, _ = build_bloom_deferred(df, "key", fpp=0.01, capacity_hint=2 * n)
    assert hinted.contains(
        pd.Series([f"k{i}" for i in range(0, 5_000, 7)])).all()


def test_mg_truncated_blob_raises_valueerror():
    """Corrupt blobs must fail as ValueError (the library's corrupt-blob
    class), never raw struct.error."""
    import pytest as _pt
    from cuckoo_filter_spark.sketches.freq import MGSketch

    mg = MGSketch(k=8)
    import pandas as pd
    mg.update(pd.Series(["a", "b", "a"]))
    blob = mg.to_bytes()
    for cut in (6, 20, len(blob) - 1):
        with _pt.raises(ValueError, match="misra-gries"):
            MGSketch.from_bytes(blob[:cut])


def test_bloom_null_keys_excluded_and_constructor_guard():
    import pandas as pd
    import pytest as _pt
    from cuckoo_filter_spark.sketches.bloom import BloomSketch

    b = BloomSketch(capacity=128)
    b.update(pd.Series(["a", None, "b"]))
    assert b.n_items == 2
    # a NULL key must NOT alias to '' (Arrow null slot has zero length)
    assert not b.contains(pd.Series([""]))[0]
    # numeric NULLs excluded instead of crashing the flat-bytes path
    b2 = BloomSketch(capacity=128)
    b2.update(pd.Series([1, None, 2], dtype="Int64"))
    assert b2.n_items == 2
    with _pt.raises(ValueError, match="capacity or n_hashes"):
        BloomSketch(n_bits=1 << 20)
    BloomSketch(n_bits=1 << 10, n_hashes=7)  # explicit k: fine


def test_bloom_contains_null_keys_answer_false():
    """Driver-side contains takes the Bloom UDF's key rule: a NULL string
    is not '' and a NULL in an Int64 series answers False, not raise."""
    import pandas as pd
    from cuckoo_filter_spark.sketches.bloom import BloomSketch

    b = BloomSketch(capacity=128)
    b.update(pd.Series(["", "a"]))
    assert b.contains(pd.Series([None, "zz", ""])).tolist() == [
        False, False, True]
    b2 = BloomSketch(capacity=128)
    b2.update(pd.Series([1, 2], dtype="Int64"))
    assert b2.contains(pd.Series([1, None, 2], dtype="Int64")).tolist() == [
        True, False, True]


def test_countmin_negative_weight_raises():
    import pytest as _pt
    from cuckoo_filter_spark.sketches.countmin import CountMinSketch

    c = CountMinSketch(width=1 << 8, depth=2)
    c.update(["a"], weights=[5])
    with _pt.raises(ValueError, match="must be >= 0"):
        c.update(["b"], weights=[-5])
    assert c.to_bytes()  # total still serializable
