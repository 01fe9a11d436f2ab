#!/usr/bin/env python
"""Physical-plan audit: print .explain(formatted) for the headline
queries and check plan hygiene (column pruning reaches the scan,
verification joins broadcast, no stray exchanges). Output → PLANS.md."""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

#: Notes printed under a section's heading, keyed by the heading's text
#: before the colon: what a reader of the plan should not "fix".
NOTES = {
    "decontaminate": (
        "\"Train corpus never shuffles\" means no Exchange keyed on the "
        "corpus. The `RoundRobinPartitioning` Exchange under the train "
        "side's Generate is `spread_small_input` (operators/spread.py), "
        "which the contract query applies: it fires only when an "
        "input of <=512 MiB arrives in fewer partitions than the session "
        "parallelism, as every single-row-group testdata parquet does, and "
        "spreads the gram explode and probe over every core. At corpus "
        "scale it is an exact no-op. It is intended; do not remove it."),
    "repetition signals": (
        "This is the bare library projection. The `repetition_stats` "
        "contract query wraps its documents in `spread_small_input` "
        "(operators/spread.py), which adds one `RoundRobinPartitioning` "
        "Exchange when the input is <=512 MiB and arrives in fewer "
        "partitions than the session parallelism, so the per-doc UDF runs "
        "on every core instead of one. At corpus scale it is an exact "
        "no-op. It is intended; do not remove it."),
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def read_schema_cols(plan: str) -> list:
    """Sorted column names of the plan's (first) parquet ReadSchema.
    NOTE: splits on top-level commas only as long as no struct-typed
    column is read — fine for the flat testdata schemas both callers
    audit; harden here (not at call sites) if that changes."""
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    return sorted(c.split(":")[0] for c in rs.group(1).split(",")) if rs else []


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as em

    em._ensure_package(spark)
    sections = []

    # 1. build scan: key-column pruning must reach the parquet reader
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    sel = li.select("l_orderkey")
    p = plan_of(sel)
    ok = "ReadSchema: struct<l_orderkey:bigint>" in p
    sections.append(("build scan column pruning", ok, p))

    # 2. semi-join verification: broadcast expected for the small side
    from cuckoo_filter_spark.operators.query import cuckoo_semi_join

    orders = spark.read.parquet(f"{SF}/orders.parquet").where(
        F.col("o_totalprice") > 300000
    )
    joined = cuckoo_semi_join(li, "l_orderkey", orders, "o_orderkey")
    p = plan_of(joined)
    ok = "BroadcastHashJoin" in p and "LeftSemi" in p
    sections.append(("semi-join verify is broadcast LeftSemi", ok, p))

    # 3. predicate pushdown through a filter on the probe side
    pushed = li.where(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    p = plan_of(pushed)
    ok = "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" in p
    sections.append(("filter pushdown to parquet", ok, p))

    # 4. window top-n plan health: WindowGroupLimit pushes the per-group
    # limit below the shuffle (Spark 3.5+), agg is partial+final, and the
    # scan is pruned to the 4 needed columns
    agg = em.q_window_topn(spark, SF)
    p = plan_of(agg)
    ok = (
        "WindowGroupLimit" in p
        and p.count("HashAggregate") >= 2
        and "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,"
            "o_orderstatus:string,o_totalprice:double>" in p
    )
    sections.append(("window top-n: group-limit pushdown + 2-phase agg + pruned scan",
                     ok, p))

    # 5. grouped distinct: two-phase — ONE data exchange (the
    # (group, key) repartition) feeding MapInArrow partials, then the
    # tiny partial-count aggregation; scan pruned to the two columns
    from cuckoo_filter_spark.operators.grouped import grouped_distinct_count

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    gd = grouped_distinct_count(docs, "lang", "text")
    p = plan_of(gd)
    read_cols = read_schema_cols(p)
    ok = (
        "MapInArrow" in p
        and read_cols == ["lang", "text"]
        # exactly 2 exchanges: the (group,key) repartition + the final agg
        and len(re.findall(r"\(\d+\) Exchange", p)) <= 2
    )
    sections.append(("grouped distinct: repartition + MapInArrow partials "
                     "+ JVM sum, pruned scan", ok, p))

    # 6. beyond-broadcast sharded probe: cogroup (one probe-side shuffle
    # keyed by shard), no BroadcastExchange of blobs
    from cuckoo_filter_spark.operators.sharded import (
        build_sharded_cuckoo_filter,
        sharded_might_contain_join,
    )

    from cuckoo_filter_spark.operators.sharded import SHARD_FORMAT_VERSION

    parts = spark.read.parquet(f"{SF}/part.parquet")
    build = build_sharded_cuckoo_filter(parts, "p_partkey", num_shards=8)
    # explicitly-passed frames must carry format_version (r5 strict check)
    shards_df = spark.createDataFrame(
        [(int(s), bytearray(b), SHARD_FORMAT_VERSION)
         for s, b in build.blobs.items()],
        "shard int, blob binary, format_version int")
    probed = sharded_might_contain_join(
        li.select("l_partkey"), "l_partkey", build, shards_df=shards_df)
    p = plan_of(probed)
    ok = ("FlatMapCoGroupsInArrow" in p
          and "BroadcastExchange" not in p)
    sections.append(("sharded cogroup probe: FlatMapCoGroupsInArrow, "
                     "no blob broadcast", ok, p))

    # 7. anti join: definite non-members bypass (Union of the bypass
    # branch and the broadcast LeftAnti verification of maybe-members)
    from cuckoo_filter_spark.operators.query import cuckoo_anti_join

    anti = cuckoo_anti_join(li.select("l_orderkey"), "l_orderkey",
                            orders, "o_orderkey")
    p = plan_of(anti)
    ok = "Union" in p and "LeftAnti" in p
    sections.append(("anti join: non-member bypass Union + exact LeftAnti",
                     ok, p))

    # 8. hll_rollup partial stage: HLL partials are computed on the
    # NATURAL input partitions — the grouped Arrow partial (MapInArrow)
    # sits directly on the pruned scan with ZERO Exchange (the
    # exact-rollup alternative Expands the input (k+1)× and shuffles raw
    # keys per cube level)
    from cuckoo_filter_spark.sketches import HLLSketch
    from cuckoo_filter_spark.sketches.base import grouped_partials

    ev = spark.read.parquet(f"{SF}/events.parquet")
    partials = grouped_partials(ev, ["event_type"], "user_id",
                                make=lambda: HLLSketch(p=12),
                                hash_fn="metro64")
    p = plan_of(partials)
    read_cols = read_schema_cols(p)
    ok = (
        "MapInArrow" in p
        and "Exchange" not in p
        and read_cols == ["event_type", "user_id"]
    )
    sections.append(("hll_rollup partials: MapInArrow on natural "
                     "partitions, zero Exchange, pruned scan", ok, p))

    # 9. hash_split + sample_expr: a PURE JVM projection — zero Exchange,
    # zero Python eval, the md5/CASE stack inside WholeStageCodegen, scan
    # pruned to the key column (the whole operator rides the scan for free
    # at any scale)
    from cuckoo_filter_spark.operators.sampling import hash_split, sample_expr

    split = hash_split(
        docs.select("doc_id"), "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1}, seed="r5",
    ).withColumn("in_sample", sample_expr("doc_id", 0.3, seed="z"))
    p = plan_of(split)
    read_cols = read_schema_cols(p)
    ok = (
        "Exchange" not in p
        and "InPandas" not in p
        and "BatchEvalPython" not in p
        # formatted-mode codegen marker (the * prefix / codegen id tag)
        and "codegen id" in p
        and read_cols == ["doc_id"]
    )
    sections.append(("hash_split/sample_expr: pure codegen projection, "
                     "zero Exchange, zero Python, pruned scan", ok, p))

    # 10. theta flagged build: the when(cond,key) projection + the
    # shared sketch_partials MapInArrow sit directly on the pruned
    # scan — zero Exchange, both predicate columns derived from a
    # single pass over orders
    ordersf = spark.read.parquet(f"{SF}/orders.parquet").where(
        F.col("o_custkey").isNotNull())
    flagged = ordersf.select(
        F.when(F.col("o_totalprice") > 250000, F.col("o_custkey"))
        .alias("a_key"),
        F.when(F.col("o_orderstatus") == "F", F.col("o_custkey"))
        .alias("b_key"))
    from cuckoo_filter_spark.sketches.base import sketch_partials
    from cuckoo_filter_spark.sketches.theta import ThetaSketch

    partials, _ = sketch_partials(
        flagged, [(c, lambda: ThetaSketch(k=64), "keys")
                  for c in ("a_key", "b_key")])
    p = plan_of(partials)
    read_cols = read_schema_cols(p)
    ok = (
        "MapInArrow" in p
        and "Exchange" not in p
        and read_cols == ["o_custkey", "o_orderstatus", "o_totalprice"]
    )
    sections.append(("theta flagged build: one pruned scan feeds both "
                     "predicate sketches, MapInArrow, zero Exchange", ok, p))

    # 11. grouped MG top-N: phase-1 partials on NATURAL partitions (the
    # only Exchange in the whole plan is the tiny per-group BLOB shuffle
    # feeding the applyInArrow merge — raw (group, item) rows never
    # shuffle), scan pruned to the two columns
    from cuckoo_filter_spark.sketches.freq import grouped_mg_topk

    topn = grouped_mg_topk(ev, "event_type", "user_id", k=64, top_n=5)
    p = plan_of(topn)
    read_cols = read_schema_cols(p)
    ok = (
        "MapInArrow" in p
        and "FlatMapGroupsInArrow" in p
        and len(re.findall(r"\(\d+\) Exchange", p)) == 1
        and "BroadcastExchange" not in p
        and read_cols == ["event_type", "user_id"]
    )
    sections.append(("grouped MG top-N: partials on natural partitions, "
                     "ONE blob-only Exchange, pruned scan", ok, p))

    # 12. as-of join: the union+window idiom — both sides shuffle ONCE
    # by key (a single hashpartitioning Exchange feeding one Window/sort),
    # and there is NO BroadcastNestedLoop/Cartesian (what Spark plans for
    # a bare range-correlated join); scans pruned to the used columns
    from cuckoo_filter_spark.operators.temporal import asof_join

    errs = ev.where(F.col("event_type") == "error").select(
        "event_id", F.col("user_id").alias("uid"), "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("uid"), F.col("ts").alias("cts"))
    aj = asof_join(errs, clicks, "uid", "ts", "cts")
    p = plan_of(aj)
    ok = (
        len(re.findall(r"\(\d+\) Exchange", p)) == 1
        and "Window" in p
        and "BroadcastNestedLoop" not in p
        and "CartesianProduct" not in p
    )
    sections.append(("asof join: union + ONE key Exchange + Window, "
                     "no nested-loop range scan", ok, p))

    # 13. bucketed range join: plain equi-join on (key, time-bucket)
    # with the range predicate as a residual — explode duplicates each
    # probe row at most 2x; NEVER a BroadcastNestedLoop/Cartesian
    from cuckoo_filter_spark.operators.temporal import bucketed_range_join

    rj = bucketed_range_join(
        ev.where(F.col("event_type") == "error")
        .select("event_id", "user_id", "ts"),
        ev.where(F.col("event_type") == "click").select("user_id", "ts"),
        "user_id", "ts", "ts", -172800.0, 0.0)
    p = plan_of(rj)
    ok = (
        ("SortMergeJoin" in p or "ShuffledHashJoin" in p
         or "BroadcastHashJoin" in p)
        and "Generate" in p  # the sequence/explode bucket expansion
        and "BroadcastNestedLoop" not in p
        and "CartesianProduct" not in p
    )
    sections.append(("bucketed range join: equi-join on (key, bucket) + "
                     "residual range filter, bounded 2x explode", ok, p))

    # 14. decontamination: train-side gram explode + cuckoo probe are
    # map-side (Generate + ArrowEvalPython before any Exchange on that
    # branch); the exactness verify is a BROADCAST LeftSemi; the only
    # non-broadcast Exchanges are the benchmark distinct and the final
    # per-doc count (2 total) — the training corpus itself never shuffles
    dec = em.q_decontaminate_docs(spark, SF)
    p = plan_of(dec)
    n_exch = len(re.findall(r"\(\d+\) Exchange", p))
    ok = (
        "BroadcastHashJoin" in p and "LeftSemi" in p
        and "Generate" in p and "ArrowEvalPython" in p
        and n_exch <= 3  # bench distinct + doc_id count + orderBy range
        and "BroadcastNestedLoop" not in p and "CartesianProduct" not in p
    )
    sections.append(("decontaminate: map-side gram explode + probe, "
                     "broadcast verify, train corpus never shuffles", ok, p))

    # 15. line dedup: both explodes are map-side Generates; repeated-fp
    # set, keep-first set, and removed-idx lists come back as BROADCAST
    # joins; keep-first is a PARTIAL-AGG min (no Sort+Window partitioned
    # by line — a hot boilerplate line map-side-combines instead of
    # funnelling into one task); doc text bodies cross no Exchange
    from cuckoo_filter_spark.operators.lines import chunk_lines_expr, dedup_lines

    docs01 = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", chunk_lines_expr("text", 10).alias("text"))
    ld = dedup_lines(docs01, "text", "doc_id")
    p = plan_of(ld)
    n_exch = len(re.findall(r"\(\d+\) Exchange", p))
    ok = (
        p.count("BroadcastHashJoin") >= 3  # dup-fp semi + firsts anti + removed left
        and "Window" not in p and "Generate" in p
        and "partial_min" in p  # keep-first partial-aggregates map-side
        # fp count (printed twice: cand feeds both the firsts agg and the
        # removal anti-join; AQE reuses the exchange at runtime) + firsts
        # agg + removed-per-id agg
        and n_exch <= 4
        and "BroadcastNestedLoop" not in p and "CartesianProduct" not in p
    )
    sections.append(("line dedup: map-side explodes, broadcast fp/firsts/"
                     "removed joins, partial-agg keep-first (no hot-line "
                     "Window)", ok, p))

    # 16. repetition signals: pure per-doc projection — ArrowEvalPython
    # over a 2-column pruned scan, ZERO Exchange of any kind
    from cuckoo_filter_spark.functions.text import (
        token_count_expr, top_ngram_count_udf)

    docs2 = spark.read.parquet(f"{SF}/documents.parquet")
    rep = docs2.select(
        "doc_id", token_count_expr("text").alias("n_tokens"),
        top_ngram_count_udf(2)(F.col("text")).alias("top2_count"))
    p = plan_of(rep)
    ok = (
        "ArrowEvalPython" in p
        and "Exchange" not in p
        and read_schema_cols(p) == ["doc_id", "text"]
    )
    sections.append(("repetition signals: zero-shuffle ArrowEvalPython "
                     "projection, pruned scan", ok, p))

    # 17. PII scrub + quality rules + normalization: the whole per-doc
    # policy stack is a PURE codegen projection — zero Exchange, zero
    # Python, scan pruned to the text column
    from cuckoo_filter_spark.functions.pii import pii_count_exprs, redact_pii
    from cuckoo_filter_spark.functions.quality import gopher_keep_expr
    from cuckoo_filter_spark.functions.textnorm import normalize_text

    scrubbed = docs2.select(
        redact_pii("text").alias("clean"),
        gopher_keep_expr("text").alias("keep"),
        normalize_text("text").alias("norm"),
        *[v.alias(k) for k, v in pii_count_exprs("text").items()])
    p = plan_of(scrubbed)
    ok = (
        "Exchange" not in p
        and "InPandas" not in p
        and "Python" not in p
        and "codegen id" in p
        and read_schema_cols(p) == ["text"]
    )
    sections.append(("pii scrub + quality rules + normalize: pure codegen "
                     "projection, zero Exchange, zero Python, pruned scan",
                     ok, p))

    # 18. blocklist literal path: subdomain policy as a ZERO-JOIN
    # projection (suffix expansion + arrays_overlap inside the scan
    # stage) — no Exchange, no Join of any kind, no Python
    from cuckoo_filter_spark.operators.policy import blocklist_filter

    urls = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.concat(F.lit("https://h"), (F.col("o_orderkey") % 100)
                 .cast("string"), F.lit(".example.com/")).alias("url"))
    blocked = blocklist_filter(urls, "url", ["h7.example.com", "bad.net"])
    p = plan_of(blocked)
    ok = (
        "Exchange" not in p
        and "Join" not in p
        and "Python" not in p
        and read_schema_cols(p) == ["o_orderkey"]
    )
    sections.append(("blocklist literal path: zero-join, zero-Exchange "
                     "projection, pruned scan", ok, p))

    # 19. deterministic global shuffle: assign_shards is a pure
    # projection (zero Exchange); the writer path pays EXACTLY one
    # Exchange (hash on the shard id) + an in-partition Sort — the
    # minimum any global shuffle costs — with zero Python
    from cuckoo_filter_spark.operators.shuffle import (
        assign_shards, shuffle_within_shards)

    assigned = assign_shards(docs2.select("doc_id"), "doc_id", 64, seed="r5")
    p1 = plan_of(assigned)
    writer = shuffle_within_shards(docs2, "doc_id", 64, seed="r5")
    p2 = plan_of(writer)
    ok = (
        "Exchange" not in p1
        and read_schema_cols(p1) == ["doc_id"]
        and len(re.findall(r"\(\d+\) Exchange", p2)) == 1
        and "Sort" in p2
        and "Python" not in p2
    )
    sections.append(("global shuffle: shard assign = zero-Exchange "
                     "projection; writer = ONE Exchange + local sort",
                     ok, p1 + "\n--- writer path ---\n" + p2))

    # 20. repeated spans (ExactSubstr): text never shuffles — the only
    # Exchanges are the two partial-aggregated counts (fp occurrences,
    # per-doc totals); the repeated set comes back as a broadcast join;
    # zero Python; scan pruned to (doc_id, text)
    from cuckoo_filter_spark.operators.spans import repeated_span_stats

    spans = repeated_span_stats(docs2, "doc_id", "text", k=12)
    p = plan_of(spans)
    n_exchange = len(re.findall(r"\(\d+\) Exchange", p))
    ok = (
        n_exchange == 2
        and "BroadcastHashJoin" in p
        and "Python" not in p
        and "partial_count" in p
        and read_schema_cols(p) == ["doc_id", "text"]
    )
    sections.append(("repeated spans: two partial-agg Exchanges, broadcast "
                     "repeat-set join, zero Python, pruned scan", ok, p))

    # 21. budget selection: ONE hash Exchange on the group + one sort
    # feeds the running-sum window and a codegen filter — zero Python,
    # scan pruned to the used columns
    from cuckoo_filter_spark.operators.budget import take_until_budget

    sel = take_until_budget(
        docs2.select("doc_id", "lang", "n_chars"), ["lang"],
        [F.col("n_chars").desc(), F.col("doc_id")], "n_chars", 50_000)
    p = plan_of(sel)
    ok = (
        len(re.findall(r"\(\d+\) Exchange", p)) == 1
        and "Python" not in p
        and "Window" in p
        and read_schema_cols(p) == ["doc_id", "lang", "n_chars"]
    )
    sections.append(("budget selection: ONE group Exchange + sort + "
                     "running-sum Window + codegen filter, zero Python",
                     ok, p))

    # 21b. budget selection WITH the threshold pre-pass: both pre-pass
    # passes are PARTIAL aggregations (percentile_approx boundaries,
    # per-bucket sums — hot groups combine map-side), the boundary and
    # threshold frames come back as BROADCAST joins, and the exact
    # running-sum window runs on the filtered prefix — zero Python
    sel_pp = take_until_budget(
        docs2.select("doc_id", "lang", "n_chars"), ["lang"],
        ["n_chars", "doc_id"], "n_chars", 50_000,
        prepass_on="n_chars", prepass_buckets=16)
    p = plan_of(sel_pp)
    ok = (
        "partial_percentile_approx" in p  # pass 1 partial-aggs
        and p.count("BroadcastHashJoin") >= 2  # bounds + threshold joins
        and "Python" not in p
        and "Window" in p
        and "BroadcastNestedLoop" not in p and "CartesianProduct" not in p
    )
    sections.append(("budget prepass: partial-agg quantile + bucket-sum "
                     "passes, broadcast threshold join, exact Window on "
                     "the prefix, zero Python", ok, p))

    # 22. overlapping token chunking: a map-side Generate inside the
    # scan stage — zero Exchange, zero Python, scan pruned to the two
    # used columns
    from cuckoo_filter_spark.operators.chunks import chunk_tokens

    ch = chunk_tokens(docs2.select("doc_id", "text"), "doc_id", "text",
                      64, 16)
    p = plan_of(ch)
    ok = (
        "Exchange" not in p
        and "Generate" in p
        and "Python" not in p
        and read_schema_cols(p) == ["doc_id", "text"]
    )
    sections.append(("token chunking: map-side Generate, zero Exchange, "
                     "zero Python, pruned scan", ok, p))

    # 23. sketch tree merge (r7, VERDICT r6 #1): above TREE_MERGE_AT
    # source partitions the partial blobs (the sketch_partials frame
    # every ungrouped sketch build runs) go through ONE executor-side
    # applyInArrow merge level — blob rows only through a single
    # Exchange, no broadcast, scan stays pruned; the driver then
    # collects O(sqrt(P)) group rows
    from cuckoo_filter_spark.sketches.base import tree_merge_level

    tm_partials, _ = sketch_partials(
        spark.read.parquet(f"{SF}/orders.parquet"),
        [("o_custkey", lambda: HLLSketch(p=12), "keys")])
    merged = tree_merge_level(tm_partials, [lambda: HLLSketch(p=12)], 4)
    p = plan_of(merged)
    ok = (
        "FlatMapGroupsInArrow" in p
        and len(re.findall(r"\(\d+\) Exchange", p)) == 1
        and "BroadcastExchange" not in p
        and read_schema_cols(p) == ["o_custkey"]
    )
    sections.append(("sketch tree merge: ONE blob-only Exchange into "
                     "applyInArrow merge groups, no broadcast, pruned "
                     "scan", ok, p))

    # 24. cuckoo build partials: every build route runs the ONE Arrow
    # key partial (build.key_partials) — MapInArrow on the pruned scan,
    # no pandas. unique_local adds zero Exchange; unique_global exactly
    # one hashpartitioning Exchange (repartition by key) below the
    # partial; the sharded build exactly one Exchange, by shard, above
    # it, into the applyInArrow per-shard combine
    from cuckoo_filter_spark.operators.build import cuckoo_partials
    from cuckoo_filter_spark.operators.sharded import (
        combine_shards,
        sharded_pairs,
    )
    from cuckoo_filter_spark.params import CuckooParams

    ck_params = CuckooParams.for_capacity(70_000)
    p_local = plan_of(cuckoo_partials(li, "l_orderkey", ck_params))
    p_global = plan_of(cuckoo_partials(li, "l_orderkey",
                                       mode="unique_global"))
    p_shard = plan_of(combine_shards(
        sharded_pairs(li, "l_orderkey", ck_params, 8), ck_params, True))

    def exchanges(plan: str) -> list:
        return re.findall(r"\(\d+\) Exchange", plan)

    ok = (
        all("MapInArrow" in q and "MapInPandas" not in q
            and read_schema_cols(q) == ["l_orderkey"]
            for q in (p_local, p_global, p_shard))
        and not exchanges(p_local)
        and len(exchanges(p_global)) == 1
        and "hashpartitioning(l_orderkey" in p_global
        and len(exchanges(p_shard)) == 1
        and "hashpartitioning(shard" in p_shard
        and "FlatMapGroupsInArrow" in p_shard
    )
    sections.append(("cuckoo build partials: MapInArrow on the pruned "
                     "scan; zero Exchange (unique_local), one key Exchange "
                     "(unique_global), one shard Exchange (sharded)", ok,
                     p_local + "\n--- unique_global ---\n" + p_global
                     + "\n--- sharded ---\n" + p_shard))

    # 25. sketch partial coalesce: a tiny input in more slices than the
    # session has slots (264 here) is coalesced to them before the
    # partial — a narrow Coalesce, no Exchange; with the size bound at
    # 0 (standing in for a large input) the 264 slices stay as they are
    from cuckoo_filter_spark.operators import spread

    many = spark.range(0, 264 * 2_000, 1, 264)
    hll = [("id", lambda: HLLSketch(p=12), "keys")]
    p_small = plan_of(sketch_partials(many, hll)[0])
    bound = spread.DEFAULT_SPREAD_MAX_BYTES
    spread.DEFAULT_SPREAD_MAX_BYTES = 0
    try:
        p_large = plan_of(sketch_partials(many, hll)[0])
    finally:
        spread.DEFAULT_SPREAD_MAX_BYTES = bound
    ok = (
        all("MapInArrow" in q and not exchanges(q) for q in (p_small, p_large))
        and "Coalesce" in p_small
        and "Coalesce" not in p_large
    )
    sections.append(("sketch partial coalesce: a tiny 264-slice input "
                     "coalesces to the session slots, zero Exchange; none "
                     "above the size bound", ok,
                     p_small + "\n--- above the size bound ---\n" + p_large))

    out = ["# PLANS — physical plan audit (sf0.01, AQE on)\n"]
    for name, ok, p in sections:
        note = NOTES.get(name.split(":")[0])
        note = f"> {note}\n\n" if note else ""
        out.append(f"## {'✅' if ok else '❌'} {name}\n\n{note}"
                   f"```\n{p.strip()[:4000]}\n```\n")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "PLANS.md")
    # regenerate ONLY this script's sections: everything from the manual
    # marker down (round-3+ hand-audited plan shapes) is preserved
    marker = "# Round 3 additions"
    tail = ""
    if os.path.exists(path):
        cur = open(path).read()
        i = cur.find(marker)
        if i >= 0:
            tail = cur[i:]
    with open(path, "w") as f:
        f.write("\n".join(out))
        if tail:
            f.write("\n" + tail)
    print("checks:", [(n, ok) for n, ok, _ in sections])
    spark.stop()


if __name__ == "__main__":
    main()
