"""Per-group filters / grouped distinct: exactness (raw-key dedupe, not
fingerprint), no per-group task funnel, per-group membership probes."""

import pytest
from pyspark.sql import functions as F

from cuckoo_filter_spark.operators.grouped import (
    build_grouped_filters,
    grouped_anti_join,
    grouped_distinct_count,
    grouped_might_contain_udf,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_grouped_distinct_count_exact(spark, docs):
    got = {r["lang"]: r["n_distinct"]
           for r in grouped_distinct_count(docs, "lang", "text").collect()}
    want = {r["lang"]: r["n"]
            for r in docs.groupBy("lang")
            .agg(F.countDistinct("text").alias("n")).collect()}
    assert got == want


def test_grouped_distinct_count_int_group(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    got = {r["user_id"]: r["n_distinct"]
           for r in grouped_distinct_count(ev, "user_id", "event_type").collect()}
    want = {r["user_id"]: r["n"]
            for r in ev.groupBy("user_id")
            .agg(F.countDistinct("event_type").alias("n")).collect()}
    assert got == want


def test_build_grouped_filters_membership(spark, docs):
    filters = build_grouped_filters(docs, "lang", "text")
    rows = filters.collect()
    want = {r["lang"]: r["n"]
            for r in docs.groupBy("lang")
            .agg(F.countDistinct("text").alias("n")).collect()}
    assert {r["lang"]: r["n_distinct"] for r in rows} == want
    # membership: every (lang, text) hits its own lang's filter
    mc = grouped_might_contain_udf(spark, filters)
    hits = docs.where(mc("lang", "text")).count()
    assert hits == docs.count()
    # cross-group: texts probed against the WRONG group mostly miss
    wrong = docs.withColumn("lang", F.concat(F.lit("zz-"), F.col("lang")))
    assert wrong.where(mc("lang", "text")).count() == 0  # no zz- filters


def test_grouped_anti_join_exact(spark, docs):
    seen = docs.where(F.col("doc_id") < 200)
    got = grouped_anti_join(docs, "lang", "text", seen)
    want = docs.join(
        seen.select("lang", "text").dropDuplicates(["lang", "text"]),
        on=["lang", "text"], how="left_anti")
    assert got.count() == want.count()
    assert got.select("doc_id").subtract(want.select("doc_id")).count() == 0


def test_grouped_cogroup_join_matches_broadcast(spark, docs):
    """VERDICT r3 #3: the cogroup probe must flag exactly the same rows
    as the broadcast UDF path, and the cogroup anti join must stay
    exact."""
    from cuckoo_filter_spark.operators.grouped import (
        grouped_might_contain_join,
    )

    seen = docs.where(F.col("doc_id") < 200)
    filters = build_grouped_filters(seen, "lang", "text")

    mc = grouped_might_contain_udf(spark, filters)
    want_flags = {r["doc_id"]: r["f"] for r in docs.select(
        "doc_id", mc("lang", "text").alias("f")).collect()}
    flagged = grouped_might_contain_join(docs, "lang", "text", filters,
                                         flag_col="f")
    got_flags = {r["doc_id"]: r["f"] for r in
                 flagged.select("doc_id", "f").collect()}
    assert got_flags == want_flags

    # salted routing changes the task layout, never the answer
    salted = grouped_might_contain_join(docs, "lang", "text", filters,
                                        flag_col="f", salt=3)
    assert {r["doc_id"]: r["f"] for r in
            salted.select("doc_id", "f").collect()} == want_flags

    got = grouped_anti_join(docs, "lang", "text", seen, via="cogroup")
    want = docs.join(
        seen.select("lang", "text").dropDuplicates(["lang", "text"]),
        on=["lang", "text"], how="left_anti")
    assert got.count() == want.count()
    assert got.select("doc_id").subtract(want.select("doc_id")).count() == 0


def test_grouped_cogroup_join_many_groups(spark):
    """High-cardinality group space (the regime the broadcast path can't
    serve): 500 groups, each with its own filter; membership exact per
    group, cross-group probes miss."""
    from cuckoo_filter_spark.operators.grouped import (
        grouped_might_contain_join,
    )

    base = spark.range(25_000).select(
        (F.col("id") % 500).cast("string").alias("g"),
        F.concat(F.lit("k"), F.col("id")).alias("key"))
    filters = build_grouped_filters(base, "g", "key")
    # members flag True for their own group
    flagged = grouped_might_contain_join(base, "g", "key", filters)
    assert flagged.where(~F.col("might_contain")).count() == 0
    # the same keys probed against a shifted group mostly miss (and a
    # group with no filter row always returns False)
    shifted = base.withColumn(
        "g", F.concat(F.lit("none-"), F.col("g")))
    assert grouped_might_contain_join(
        shifted, "g", "key", filters).where(F.col("might_contain")).count() == 0


def test_grouped_cogroup_join_xxhash64(spark, docs):
    """xxhash64 grouped builds probe through the cogroup path (probe
    keys pre-hashed JVM-side) — no false negatives."""
    from cuckoo_filter_spark.operators.grouped import (
        grouped_might_contain_join,
    )

    filters = build_grouped_filters(docs, "lang", "text", hash_fn="xxhash64")
    flagged = grouped_might_contain_join(docs, "lang", "text", filters)
    assert flagged.where(~F.col("might_contain")).count() == 0


def test_grouped_anti_join_auto_route(spark, docs, monkeypatch):
    """via='auto': few groups → broadcast, many groups → cogroup; both
    produce the exact anti-join answer."""
    import cuckoo_filter_spark.operators.grouped as g

    seen = docs.where(F.col("doc_id") < 200)
    want = docs.join(
        seen.select("lang", "text").dropDuplicates(["lang", "text"]),
        on=["lang", "text"], how="left_anti").count()
    # few groups (5 langs) with a tiny threshold forced DOWN → cogroup;
    # spy which path ran via the module functions
    called = []
    orig_join = g.grouped_might_contain_join
    orig_udf = g.grouped_might_contain_udf
    monkeypatch.setattr(g, "grouped_might_contain_join",
                        lambda *a, **k: called.append("cogroup") or orig_join(*a, **k))
    monkeypatch.setattr(g, "grouped_might_contain_udf",
                        lambda *a, **k: called.append("broadcast") or orig_udf(*a, **k))
    assert g.grouped_anti_join(docs, "lang", "text", seen,
                               via="auto").count() == want
    assert called == ["broadcast"]  # 5 groups < threshold
    called.clear()
    monkeypatch.setattr(g, "AUTO_COGROUP_GROUPS", 2)
    assert g.grouped_anti_join(docs, "lang", "text", seen,
                               via="auto").count() == want
    assert called == ["cogroup"]  # 5 groups > patched threshold
    with pytest.raises(ValueError, match="unknown via"):
        g.grouped_anti_join(docs, "lang", "text", seen, via="nope")


def test_grouped_filters_xxhash_counts(spark, docs):
    filters = build_grouped_filters(docs, "lang", "text", hash_fn="xxhash64")
    want = {r["lang"]: r["n"]
            for r in docs.groupBy("lang")
            .agg(F.countDistinct("text").alias("n")).collect()}
    assert {r["lang"]: r["n_distinct"] for r in filters.collect()} == want


def test_grouped_anti_join_rejects_xxhash64(spark, docs):
    """A filters frame that mixes xxhash64 groups with metro64 groups has
    no one probe hash: both probe routes reject it instead of probing
    half the groups with the wrong hash (false negatives)."""
    langs = sorted(r[0] for r in docs.select("lang").distinct().collect())
    assert len(langs) >= 2
    head = F.col("lang") == langs[0]
    seen = docs.where(F.col("doc_id") < 100)
    mixed = build_grouped_filters(
        docs.where(head), "lang", "text", hash_fn="xxhash64").unionByName(
        build_grouped_filters(docs.where(~head), "lang", "text"))
    for via in ("broadcast", "cogroup"):
        with pytest.raises(ValueError, match="mixes hash_fns"):
            grouped_anti_join(docs, "lang", "text", seen, filters=mixed,
                              via=via)


def test_grouped_probe_reads_prebuilt_xxhash_filters(spark, docs):
    """The filters frame records hash_fn, so the broadcast probe of
    PREBUILT xxhash64 filters passed via filters= hashes like the build
    (no false negatives) and the anti join stays exact."""
    filters = build_grouped_filters(docs, "lang", "text", hash_fn="xxhash64")
    mc = grouped_might_contain_udf(spark, filters)
    assert docs.where(~mc("lang", "text")).count() == 0
    seen = docs.where(F.col("doc_id") < 100)
    sfilters = build_grouped_filters(seen, "lang", "text", hash_fn="xxhash64")
    want = docs.join(
        seen.select("lang", "text").dropDuplicates(["lang", "text"]),
        on=["lang", "text"], how="left_anti").count()
    assert grouped_anti_join(docs, "lang", "text", seen,
                             filters=sfilters).count() == want


def test_grouped_cogroup_join_rejects_duplicate_blob_rows(spark):
    """ADVICE r4: two blob rows for one group (e.g. an accidental union
    of two builds' filter frames) must raise — probing only row 0 would
    silently drop the other filter's memberships (false negatives)."""
    from cuckoo_filter_spark.operators.grouped import (
        build_grouped_filters,
        grouped_might_contain_join,
    )

    df = spark.createDataFrame(
        [("a", f"k{i}") for i in range(200)] + [("b", f"k{i}") for i in range(200)],
        "g string, key string")
    filters = build_grouped_filters(df, "g", "key")
    ok = grouped_might_contain_join(df, "g", "key", filters)
    assert ok.where(F.col("might_contain")).count() == 400
    doubled = filters.unionByName(filters)
    with pytest.raises(Exception, match="blob rows"):
        grouped_might_contain_join(df, "g", "key", doubled).collect()
    # the BROADCAST path guards too (dict construction would keep one
    # blob per group and silently drop the other's memberships)
    from cuckoo_filter_spark.operators.grouped import grouped_might_contain_udf

    with pytest.raises(ValueError, match="duplicate rows"):
        grouped_might_contain_udf(spark, doubled)


def test_grouped_distinct_count_keeps_all_null_key_groups(spark):
    """SQL COUNT(DISTINCT k) GROUP BY g returns (g, 0) for a group whose
    keys are all NULL — the group row must not vanish."""
    df = spark.createDataFrame(
        [("a", "k1"), ("a", "k2"), ("b", None), ("b", None), (None, None),
         ("c", "k1"), ("c", None)],
        "g string, key string")
    got = {r["g"]: r["n_distinct"]
           for r in grouped_distinct_count(df, "g", "key").collect()}
    assert got == {"a": 2, "b": 0, None: 0, "c": 1}


def test_grouped_build_xxhash64_excludes_null_keys(spark):
    """xxhash64 route: F.xxhash64(NULL)=42 must not inflate n_distinct
    (documented as the exact raw-key distinct count)."""
    df = spark.createDataFrame(
        [("g1", f"k{i}") for i in range(100)] + [("g1", None)] * 10,
        "g string, key string")
    row = build_grouped_filters(df, "g", "key", hash_fn="xxhash64").collect()[0]
    assert row["n_distinct"] == 100


def test_grouped_anti_join_xxhash64_routes_to_cogroup(spark):
    """xxhash64 grouped builds work through the cogroup and the
    broadcast probe alike: both read the recorded hash_fn."""
    from cuckoo_filter_spark.operators.grouped import grouped_anti_join

    seen = spark.createDataFrame(
        [("g1", f"k{i}") for i in range(50)], "g string, key string")
    probe = spark.createDataFrame(
        [("g1", f"k{i}") for i in range(40, 60)], "g string, key string")
    out = grouped_anti_join(probe, "g", "key", seen, via="cogroup",
                            hash_fn="xxhash64")
    assert {r["key"] for r in out.collect()} == {f"k{i}" for i in range(50, 60)}
    # auto picks the route by group count alone
    out2 = grouped_anti_join(probe, "g", "key", seen, via="auto",
                             hash_fn="xxhash64")
    assert out2.count() == 10
    out3 = grouped_anti_join(probe, "g", "key", seen, via="broadcast",
                             hash_fn="xxhash64")
    assert sorted(r["key"] for r in out3.collect()) == sorted(
        r["key"] for r in out.collect())


def test_grouped_probe_null_group_parity(spark):
    """NULL-group probe rows flag False on BOTH probe paths (SQL
    IN/EXISTS semantics: a NULL group equals nothing). Spark's cogroup
    pairs the two NULL groups, so without the blob-side null exclusion
    the cogroup path probed the NULL-group filter while the broadcast
    path (factorize NA sentinel) answered False — divergent flags. The
    anti join stays exact either way (left_anti never matches a NULL
    group); this pins the flag parity itself."""
    from cuckoo_filter_spark.operators.grouped import (
        grouped_might_contain_join,
    )

    seen = spark.createDataFrame(
        [("en", "a"), ("en", "b"), (None, "n1"), (None, "n2")],
        "lang string, text string")
    probe = spark.createDataFrame(
        [("en", "a"), ("en", "zz"), (None, "n1"), (None, "zz")],
        "lang string, text string")
    filters = build_grouped_filters(seen, "lang", "text")

    mc = grouped_might_contain_udf(spark, filters)
    bflags = {(r["lang"], r["text"]): r["f"] for r in probe.select(
        "lang", "text", mc("lang", "text").alias("f")).collect()}
    cflags = {(r["lang"], r["text"]): r["f"] for r in
              grouped_might_contain_join(probe, "lang", "text", filters,
                                         flag_col="f").collect()}
    assert bflags == cflags
    assert bflags[(None, "n1")] is False  # member of the NULL-group
    # filter, but NULL group matches nothing under IN semantics
    assert bflags[("en", "a")] is True

    # the anti join emits every NULL-group row (NOT EXISTS semantics)
    # identically through both routes
    for via in ("broadcast", "cogroup"):
        got = sorted(((r["lang"], r["text"]) for r in grouped_anti_join(
            probe, "lang", "text", seen, via=via).collect()),
            key=lambda t: (t[0] or "", t[1]))
        assert got == [(None, "n1"), (None, "zz"), ("en", "zz")], via
