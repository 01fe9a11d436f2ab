"""Per-group cuckoo filters and exact grouped distinct counts.

A naive "one task per group" build funnels a whole group's rows
through a single task — at web scale one language can be tens of TB.
Both operators here are two-phase instead:

* phase 1 — ``repartition(group, key)`` co-locates identical
  (group, key) pairs, then the grouped Arrow partial
  (``sketches.base.grouped_partials``, the build's key rule) dedupes the
  RAW keys per (partition, group) and emits one tiny row per (partition,
  group). Because duplicates are co-located, partial distinct counts sum
  to the exact global per-group distinct count — no group ever sits in
  one task.
* phase 2 — a per-group combine of the partials. For counting this is
  a plain JVM ``groupBy(group).sum`` (bytes per group ≈ 8·P). For
  filter building the combine (``sketches.base.merge_groups``) receives
  8 bytes per distinct key of the group (the deduped 64-bit hashes) in
  source-partition order, sizes a reference-layout kernel for exactly
  that group's cardinality, and runs the kick loop once.

Scale note: the filter combine is inherently one task per group
(a single filter is one blob); it is bounded by 8 B × group distinct
count and refuses a group above ``MAX_GROUP_KEYS`` (10⁸) distinct keys.
Beyond that, build per-group ``build_sharded_cuckoo_filter`` filters
with a composite shard key.

Reference parity: each per-group blob is a §1.5-layout filter
(cuckoofilter.go:216-266 Encode), so merge/delete/probe semantics apply
per group. Both probes (the broadcast Arrow UDF and the cogroup join)
share the Arrow key step of ``operators.query``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import arrow_udf

from cuckoo_filter_spark.hashing import present_hashes
from cuckoo_filter_spark.kernel.filter import CuckooKernel
from cuckoo_filter_spark.operators.build import DEFAULT_HEADROOM
from cuckoo_filter_spark.operators.query import (
    cached_probe,
    key_hash_udf,
    probe_input,
)
from cuckoo_filter_spark.operators.sharded import (
    cogroup_prober,
    iter_shard_groups,
)
from cuckoo_filter_spark.params import TABLE_SINGLE, CuckooParams
from cuckoo_filter_spark.sketches.base import (
    group_schema,
    grouped_partials,
    merge_groups,
)


def grouped_distinct_count(
    df: DataFrame,
    group_col: str,
    key_col: str,
    num_partitions: int | None = None,
    out_col: str = "n_distinct",
) -> DataFrame:
    """Exact per-group COUNT(DISTINCT key) with no per-group task funnel.

    One shuffle of (group, key) rows + one tiny shuffle of partial
    counts; the only per-group work is summing P integers (JVM-side).
    NULL/NaN keys do not count, -0.0 counts as 0.0, and a group whose
    keys are all NULL reports 0 (NULL groups are kept).
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    sel = df.select(group_col, key_col).repartition(n, F.col(group_col),
                                                   F.col(key_col))
    partials = grouped_partials(sel, [group_col], key_col)
    return partials.groupBy(group_col).agg(F.sum("n").alias(out_col))


#: the grouped filter combine refuses a group with more distinct keys
#: than this: its combine task holds 8 B per distinct key of hashes plus
#: the group's table, one task per group (read at call time)
MAX_GROUP_KEYS = 100_000_000

#: the output columns of a grouped build after its group column
GROUPED_BUILD_ROW = [
    ("n_distinct", pa.int64()), ("stored", pa.int64()),
    ("load_factor", pa.float64()), ("hash_fn", pa.string()),
    ("blob", pa.binary()),
]


def _filter_combiner(group_col: str, hash_fn: str, tags_per_bucket: int,
                     bits_per_item: int, table_type: int, headroom: float,
                     limit: int):
    """The grouped build's merge: one group's distinct-key hash blobs
    (in source-partition order) into one filter sized for the group."""

    def combine(t: pa.Table) -> list[dict]:
        group = t[group_col][0].as_py()
        n_distinct = pc.sum(t["n"]).as_py()
        if n_distinct > limit:
            raise ValueError(
                f"build_grouped_filters: group {group!r} has {n_distinct} "
                f"distinct keys, above MAX_GROUP_KEYS={limit} for one "
                f"combine task; build it with build_sharded_cuckoo_filter "
                f"(a composite shard key) instead")
        h = np.frombuffer(b"".join(t["blob"].to_pylist()), dtype="<u8")
        params = CuckooParams.for_capacity(
            max(int(n_distinct * headroom), 64), tags_per_bucket,
            bits_per_item, table_type)
        kern = CuckooKernel(params)
        stored = kern.insert_pairs(*params.split(h), dedupe=True)
        return [{group_col: group, "n_distinct": n_distinct,
                 "stored": stored, "load_factor": kern.load_factor(),
                 "hash_fn": hash_fn, "blob": kern.to_bytes()}]

    return combine


def build_grouped_filters(
    df: DataFrame,
    group_col: str,
    key_col: str,
    tags_per_bucket: int = 4,
    bits_per_item: int = 16,
    table_type: int = TABLE_SINGLE,
    headroom: float = DEFAULT_HEADROOM,
    num_partitions: int | None = None,
    hash_fn: str = "metro64",
) -> DataFrame:
    """One reference-layout cuckoo membership filter PER GROUP, built
    distributed: the scan/dedupe/hash work is partition-parallel; only
    8 B per distinct key reaches each group's combiner, which sizes the
    kernel for exactly that group's cardinality.

    Returns a DataFrame (group, n_distinct, stored, load_factor,
    hash_fn, blob); ``n_distinct`` is the exact raw-key distinct count,
    ``stored`` the fingerprint-deduped slot count actually in the
    filter. A group above ``MAX_GROUP_KEYS`` distinct keys raises: build
    it with ``build_sharded_cuckoo_filter`` instead.
    """
    if hash_fn not in ("metro64", "xxhash64"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    sel = df.select(group_col, key_col)
    if hash_fn == "xxhash64":
        # drop null keys BEFORE hashing: F.xxhash64(NULL) = seed 42 (a
        # non-null bigint) would slip past the partial's missing-key
        # drop, inflating n_distinct ("the exact raw-key distinct
        # count") and storing a phantom fingerprint
        sel = sel.where(F.col(key_col).isNotNull()).select(
            group_col, F.xxhash64(key_col).alias(key_col))
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    sel = sel.repartition(n, F.col(group_col), F.col(key_col))
    partials = grouped_partials(sel, [group_col], key_col, hash_fn=hash_fn)
    combine = _filter_combiner(group_col, hash_fn, tags_per_bucket,
                               bits_per_item, table_type, headroom,
                               MAX_GROUP_KEYS)
    return merge_groups(partials, [group_col], combine,
                        group_schema(sel, [group_col], GROUPED_BUILD_ROW))


# grouped_anti_join(via='auto') switches from the broadcast probe to the
# cogroup probe above this many groups: past a few thousand groups the
# driver dict + broadcast of every blob stops being "small" (MBs × 10^3),
# while the cogroup path's extra probe shuffle amortizes.
AUTO_COGROUP_GROUPS = 2048

def _recorded_hash_fn(fns) -> str:
    """The one hash_fn a filters frame records (metro64 when it records
    none)."""
    fns = set(fns)
    if len(fns) > 1:
        raise ValueError(f"filters frame mixes hash_fns {sorted(fns)}")
    return fns.pop() if fns else "metro64"


def grouped_might_contain_udf(spark, filters: DataFrame | dict):
    """Broadcast probe over per-group filters: ``f(group_col, key_col)
    -> boolean Column``. The filters frame (one small blob row per
    group) is collected + broadcast; probes route to their group's
    kernel inside an Arrow UDF that hashes each batch once. Keys whose
    group has no filter (a NULL group included) and missing keys return
    False: nothing was inserted for them.

    Bound: this path materializes EVERY group's blob in a driver dict
    and broadcasts the lot — right for modest group spaces (per-lang
    filters: dozens of groups, MBs total). At 10^5+ groups × MB-scale
    blobs the dict and the broadcast both blow up; use
    :func:`grouped_might_contain_join` there (cogroup by group, no
    driver materialization, no broadcast).

    Probes use the hash_fn the filters frame records, as the cogroup
    probe does; dict inputs are taken as metro64."""
    if isinstance(filters, DataFrame):
        cols = filters.columns
        gcol = cols[0]
        sel = [gcol, "blob"] + (["hash_fn"] if "hash_fn" in cols else [])
        rows = filters.select(*sel).collect()
        hash_fn = _recorded_hash_fn(
            r["hash_fn"] for r in rows if "hash_fn" in cols)
        blobs = {r[0]: bytes(r["blob"]) for r in rows}
        if len(blobs) != len(rows):
            # same guard as the cogroup probe: dict construction would
            # keep ONE blob per group and silently drop the other
            # filters' memberships (false negatives)
            raise ValueError(
                f"grouped filters frame has {len(rows)} blob rows but "
                f"only {len(blobs)} distinct groups — duplicate rows "
                f"per group (were two builds unioned?)")
    else:
        hash_fn = "metro64"
        blobs = {g: bytes(b) for g, b in filters.items()}
    to_col, prehashed = probe_input(hash_fn)
    bcast = spark.sparkContext.broadcast(blobs)
    bid = bcast._jbroadcast.id()

    @arrow_udf("boolean")
    def probe(groups: pa.Array, keys: pa.Array) -> pa.Array:
        present, h = present_hashes(keys, prehashed)
        codes = groups.dictionary_encode()
        gid = codes.indices.fill_null(-1).to_numpy(zero_copy_only=False)
        names = codes.dictionary.to_pylist()
        flags = np.zeros(len(h), dtype=bool)
        for ci, rows in iter_shard_groups(gid[present]):
            blob = bcast.value.get(names[ci]) if ci >= 0 else None
            if blob is not None:
                kern = cached_probe(bid, names[ci], blob)
                flags[rows] = kern.contain_hashed(*kern.params.split(h[rows]))
        out = np.zeros(len(present), dtype=bool)
        out[present] = flags
        return pa.array(out)

    return lambda group_col, key_col: probe(group_col, to_col(key_col))


def grouped_might_contain_join(
    probe: DataFrame,
    group_col: str,
    key_col: str,
    filters: DataFrame,
    flag_col: str = "might_contain",
    salt: int | None = None,
) -> DataFrame:
    """Beyond-broadcast grouped probe: cogroup the probe rows with the
    per-group blob rows BY GROUP, so each task loads exactly ONE group's
    kernel — no driver dict of all blobs, no broadcast. The probe path
    for high-cardinality group spaces (10^5+ groups), where
    grouped_might_contain_udf's collect+broadcast blows up; same shape
    as sharded.sharded_might_contain_join with the group as the routing
    key. One shuffle of the probe rows; blob rows shuffle once (tiny).

    salt: groups are NOT uniform the way shards are — one hot group
    (e.g. lang='en' at 30% of a corpus) funnels through one task. With
    ``salt=R`` each blob row is replicated R ways and probe rows route
    to (group, hash(key) % R), bounding the funnel to 1/R of the group
    per task at the cost of shuffling R copies of each blob.

    Returns probe columns + boolean ``flag_col``. Keys whose group has
    no filter row get False — including NULL-group rows: a NULL group
    equals nothing under SQL IN/EXISTS semantics, and the broadcast
    probe already answers False there, so the NULL-group blob rows are
    excluded from the cogroup rather than letting Spark's groupBy pair
    the two NULL groups and silently diverge from the broadcast path.
    Probes use the recorded hash_fn; the probe keys' hashes come from
    ``query.key_hash_udf``, exactly like the sharded join."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    cols = probe.columns
    # build a FRESH StructType: StructType.add mutates in place, so
    # probe.schema.add(...) would plant a phantom flag column in the
    # caller's DataFrame's cached schema
    out_schema = StructType(list(probe.schema.fields)
                            + [StructField(flag_col, BooleanType())])

    hash_fn = _recorded_hash_fn(
        [r[0] for r in filters.select("hash_fn").distinct().collect()]
        if "hash_fn" in filters.columns else [])

    gcol = filters.columns[0]
    # NULL-group parity with the broadcast probe (see docstring): the
    # NULL group's blob never participates, so NULL-group probe rows
    # cogroup against an empty right side and flag False
    blobs = filters.select(F.col(gcol).alias(group_col), "blob").where(
        F.col(group_col).isNotNull())
    probe_k = probe.withColumn("__h", key_hash_udf(hash_fn)(F.col(key_col)))
    group_keys = [group_col]
    if salt is not None:
        if salt <= 0:
            raise ValueError("salt must be a positive replication count")
        # deterministic per-key salt so identical keys still co-route;
        # blob rows replicate across every salt value
        probe_k = probe_k.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(key_col)), F.lit(salt)).cast("int"))
        blobs = blobs.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        group_keys = [group_col, "__salt"]

    return (
        probe_k.groupBy(*group_keys)
        .cogroup(blobs.groupBy(*group_keys))
        .applyInArrow(cogroup_prober(cols, flag_col), out_schema)
    )


def grouped_anti_join(
    probe: DataFrame,
    group_col: str,
    key_col: str,
    seen: DataFrame,
    filters: DataFrame | None = None,
    via: str = "broadcast",
    **build_kwargs,
) -> DataFrame:
    """Exact per-group anti join (rows of ``probe`` whose (group, key)
    does NOT appear in ``seen``), cuckoo-accelerated: definite
    non-members of their group's filter bypass the verification join;
    only maybe-members are checked with an exact left_anti on
    (group, key). The per-group incremental-dedup pattern.

    via='broadcast' (default) probes through the collected+broadcast
    blob dict — right for modest group counts; via='cogroup' routes
    probe rows to blob rows by group (grouped_might_contain_join) so
    high-cardinality group spaces never materialize all blobs on the
    driver; via='auto' counts the (small) filters frame and picks
    cogroup above AUTO_COGROUP_GROUPS groups."""
    if via not in ("broadcast", "cogroup", "auto"):
        raise ValueError(f"unknown via {via!r}")
    built_here = filters is None
    if built_here:
        # materialize the internally-built filters ONCE (one tiny row
        # per group): every route has multiple consumers of this frame —
        # auto's routing count, the cogroup probe's hash_fn check + the
        # two union branches below — and each would otherwise re-execute
        # the full two-phase grouped build.
        filters = build_grouped_filters(
            seen, group_col, key_col, **build_kwargs).localCheckpoint()
    if not built_here:
        # caller-passed frame: still materialize before the multiple
        # consumers (auto's routing count, the cogroup probe's hash_fn
        # collect, and the two union branches) — one tiny row per group,
        # so the checkpoint is cheap on EVERY route, and a caller's
        # expensive upstream build plan never re-executes
        filters = filters.localCheckpoint()
    if via == "auto":
        # one tiny agg over the one-row-per-group filters frame; limit()
        # bounds the job at the threshold instead of a full count
        over = filters.limit(AUTO_COGROUP_GROUPS + 1).count()
        via = "cogroup" if over > AUTO_COGROUP_GROUPS else "broadcast"
    if via == "cogroup":
        flagged = grouped_might_contain_join(
            probe, group_col, key_col, filters, flag_col="__maybe")
        # the cogroup probe is a full shuffle + Python pass over every
        # probe row, and the flagged frame feeds BOTH union branches
        # below — materialize it once instead of running the probe
        # twice (the cuckoo_anti_join double-scan trade is deliberate
        # for cheap scan-stage probes; a cogroup pass is not cheap)
        flagged = flagged.localCheckpoint()
    else:
        mc = grouped_might_contain_udf(probe.sparkSession, filters)
        flagged = probe.withColumn("__maybe", mc(group_col, key_col))
    definite_out = flagged.where(~F.col("__maybe")).drop("__maybe")
    maybe = flagged.where(F.col("__maybe")).drop("__maybe")
    rhs = seen.select(group_col, key_col).dropDuplicates([group_col, key_col])
    verified_out = maybe.join(rhs, on=[group_col, key_col], how="left_anti")
    return definite_out.unionByName(verified_out)
