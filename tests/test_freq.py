"""Misra-Gries frequent-items sketch — exact mode, estimation-mode
bounds on skewed data, merge laws, round-trip, distributed build."""

from collections import Counter

import pytest

from cuckoo_filter_spark.sketches.base import build_sketch, build_sketches
from cuckoo_filter_spark.sketches.freq import MGSketch


def _zipfish(n_ranks=200, top=5000):
    """Deterministic skewed stream: rank i appears top // (i+1) times."""
    items = []
    for i in range(n_ranks):
        items.extend([f"u{i}"] * (top // (i + 1)))
    return items


def test_exact_mode_below_k():
    items = ["a"] * 50 + ["b"] * 30 + ["c"] * 20
    sk = MGSketch(k=16)
    sk.update(items)
    assert sk.is_exact() and sk.n_items == 100
    assert sk.counters == dict(Counter(items))
    assert sk.estimate("a") == (50, 50)
    assert sk.estimate("missing") == (0, 0)
    assert sk.guaranteed_at_least(30) == {"a": 50, "b": 30}


def test_estimation_mode_invariants_on_skew():
    """The MG contract on every item: counter <= f <= counter + offset,
    offset <= n/(k+1); any f > offset is retained; guaranteed/candidate
    sets bracket the truth."""
    items = _zipfish()
    truth = Counter(items)
    n = len(items)
    k = 16
    sk = MGSketch(k=k)
    # feed in uneven batches to exercise repeated trims
    for lo in range(0, n, 997):
        sk.update(items[lo:lo + 997])
    assert not sk.is_exact()
    assert len(sk.counters) <= k
    assert 0 < sk.offset <= n / (k + 1)
    for item, f in truth.items():
        lo_b, up_b = sk.estimate(item)
        assert lo_b <= f <= up_b, (item, f, lo_b, up_b)
    for item, f in truth.items():
        if f > sk.offset:
            assert item in sk.counters, (item, f, sk.offset)
    t = 900
    for item, c in sk.guaranteed_at_least(t).items():
        assert truth[item] >= t
    # the candidate-superset guarantee needs threshold > offset
    # (below it, an item can be legitimately evicted)
    t2 = sk.offset + 1
    true_heavy = {i for i, f in truth.items() if f >= t2}
    assert true_heavy and true_heavy <= set(sk.candidates_at_least(t2))
    # top_k is deterministic given state and ordered by lower bound
    tk = sk.top_k(5)
    assert [x[0] for x in tk][:2] == ["u0", "u1"]


def test_merge_preserves_bounds_and_roundtrip():
    items = _zipfish(n_ranks=300, top=3000)
    truth = Counter(items)
    k = 24
    # split into 7 partials, merge pairwise in a skewed order
    parts = []
    for j in range(7):
        sk = MGSketch(k=k)
        sk.update(items[j::7])
        parts.append(sk)
    merged = parts[0]
    for p in parts[1:]:
        merged.merge(p)
    assert merged.n_items == len(items)
    assert merged.offset <= len(items) / (k + 1)
    for item, f in truth.items():
        lo_b, up_b = merged.estimate(item)
        assert lo_b <= f <= up_b
    rt = MGSketch.from_bytes(merged.to_bytes())
    assert (rt.counters, rt.offset, rt.n_items, rt.k) == (
        merged.counters, merged.offset, merged.n_items, merged.k)
    assert rt.to_bytes() == merged.to_bytes()


def test_validation_and_bad_blobs():
    with pytest.raises(ValueError, match="k mismatch"):
        MGSketch(k=8).merge(MGSketch(k=16))
    with pytest.raises(ValueError, match=">= 2"):
        MGSketch(k=1)
    with pytest.raises(ValueError, match="not a misra-gries"):
        MGSketch.from_bytes(b"XXXX" + b"\0" * 24)
    sk = MGSketch(k=8)
    sk.update(["abc", "de"])
    with pytest.raises(ValueError, match="truncated"):
        MGSketch.from_bytes(sk.to_bytes()[:-1])


def test_distributed_build_matches_exact_counts(spark):
    """build_sketch distribution: per-partition MG partials merged on
    the driver. Exact regime (distinct < k) -> counters == groupBy
    counts; NULLs excluded; a second sketch shares the scan via
    build_sketches."""
    from pyspark.sql import functions as F

    df = spark.range(0, 10_000, 1, 8).select(
        F.when(F.col("id") % 100 != 0, (F.col("id") % 7).cast("string"))
        .alias("g7"),
        (F.col("id") % 13).cast("string").alias("g13"),
    )
    sk, metrics = build_sketch(df, "g7", lambda: MGSketch(k=64))
    exact = {r["g7"]: r["n"] for r in df.where(F.col("g7").isNotNull())
             .groupBy("g7").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sk.is_exact() and sk.counters == exact
    assert sk.n_items == sum(exact.values())  # NULLs excluded
    a, b = build_sketches(df, [("g7", lambda: MGSketch(k=64), "keys"),
                               ("g13", lambda: MGSketch(k=64), "keys")])
    assert a.counters == exact
    assert b.n_items == 10_000


def test_flagged_build_int_identity_and_subsets(spark):
    """build_mg_sketches: when(cond, int_key) subset columns — pandas
    float64 (nulls) must NOT leak '402.0' identities; the flagged
    sketch counts only matching rows; one scan builds both."""
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.sketches.freq import build_mg_sketches

    df = spark.range(0, 6_000, 1, 8).select(
        (F.col("id") % 40).alias("uid"),
        (F.col("id") % 3 == 0).alias("flag"),
    ).select(
        F.col("uid"),
        F.when(F.col("flag"), F.col("uid")).alias("flagged_uid"),
    )
    (all_sk, flag_sk), metrics = build_mg_sketches(
        df, ["uid", "flagged_uid"], k=128)
    assert all_sk.is_exact() and flag_sk.is_exact()
    assert all_sk.counters == {str(u): 150 for u in range(40)}
    # id%3==0 and id%40==u -> 50 ids per uid (lcm 120, 6000/120=50)
    assert flag_sk.counters == {str(u): 50 for u in range(40)}
    assert not any("." in key for key in flag_sk.counters)
    assert flag_sk.n_items == 2_000
    assert {m["sketch_id"] for m in metrics} == {0, 1}


def test_grouped_mg_topk_exact_matches_groupby(spark):
    """Exact regime (distinct items < k per group): output == the true
    per-group top-N with (n desc, item asc) tie-break; NULL groups and
    NULL items excluded; int items keep '402' identity."""
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.sketches.freq import grouped_mg_topk

    df = spark.range(0, 12_000, 1, 8).select(
        F.when(F.col("id") % 500 != 0, (F.col("id") % 3).cast("string"))
        .alias("g"),
        F.when(F.col("id") % 7 != 0, F.col("id") % 20).alias("item"),
    )
    out = grouped_mg_topk(df, "g", "item", k=64, top_n=4).collect()
    truth = {(r["g"], str(r["item"])): r["n"] for r in
             df.where(F.col("g").isNotNull() & F.col("item").isNotNull())
             .groupBy("g", "item").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    by_group: dict = {}
    for (g, item), n in truth.items():
        by_group.setdefault(g, []).append((item, n))
    assert {r["g"] for r in out} == set(by_group)
    for g, pairs in by_group.items():
        want = sorted(pairs, key=lambda p: (-p[1], p[0]))[:4]
        got = sorted(
            [(r["item"], r["freq_lo"]) for r in out if r["g"] == g],
            key=lambda p: (-p[1], p[0]))
        assert got == want, (g, got, want)
    assert all(r["exact_mode"] and r["freq_lo"] == r["freq_hi"]
               for r in out)
    assert not any("." in r["item"] for r in out)  # int identity


def test_grouped_mg_topk_estimation_bounds(spark):
    """Estimation regime (k << distinct per group): every emitted
    (freq_lo, freq_hi) brackets the true count; at most top_n rows per
    group; heavy items (f > offset budget n/(k+1)) are present."""
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.sketches.freq import grouped_mg_topk

    # per group: item i in 0..199 appears (5000 // (i+1)) times (zipf-ish)
    df = spark.range(0, 200, 1, 4).select(
        F.explode(F.array(*[F.lit(g) for g in ("a", "b")])).alias("g"),
        F.col("id").alias("rank"),
    ).select(
        "g", F.explode(F.sequence(
            F.lit(1), (F.lit(5000) / (F.col("rank") + 1)).cast("int")))
        .alias("copy"),
        F.concat(F.lit("i"), F.col("rank")).alias("item"),
    ).select("g", "item").repartition(8)
    truth = {(r["g"], r["item"]): r["n"] for r in
             df.groupBy("g", "item").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    n_per_group = sum(n for (g, _), n in truth.items() if g == "a")
    out = grouped_mg_topk(df, "g", "item", k=16, top_n=8).collect()
    assert all(not r["exact_mode"] for r in out)
    for g in ("a", "b"):
        rows = [r for r in out if r["g"] == g]
        assert 0 < len(rows) <= 8
        for r in rows:
            f = truth[(g, r["item"])]
            assert r["freq_lo"] <= f <= r["freq_hi"], (r, f)
        # the two heaviest items (5000, 2500) are far above n/(k+1)
        assert n_per_group / 17 < 2500
        got_items = {r["item"] for r in rows}
        assert {"i0", "i1"} <= got_items


def test_flagged_build_shared_column(spark):
    """Two specs over the SAME column (different k) — the projection
    must not duplicate the name (pdf[c] would be a frame)."""
    df = spark.range(0, 4_000, 1, 4).selectExpr("id % 40 AS uid")
    small, big = build_sketches(
        df, [("uid", lambda: MGSketch(k=8), "keys"),
             ("uid", lambda: MGSketch(k=128), "keys")])
    assert big.is_exact() and big.counters == {str(u): 100
                                               for u in range(40)}
    assert not small.is_exact() and len(small.counters) <= 8
    for u in range(40):
        lo, up = small.estimate(u)
        assert lo <= 100 <= up
