"""Sharded cuckoo filters — the beyond-memory / fully-distributed path
(SURVEY.md §4.3, build plan M5).

A single filter for 10^12 keys does not fit one process (f=16, b=4 →
~2 TB of table), and a single combiner is an Amdahl bottleneck. The
sharded build keeps everything distributed:

* shard id = top log2(S) bits of an independent re-hash (xxh64) of the
  shared metro64 hash — independent of the bits used for bucket index
  (hi32) and tag (lo32), so per-shard index/tag distributions stay
  uniform at ANY shard count × table size (top-of-the-same-word shard
  bits would collide with index bits once log2(S)+log2(nb) > 32 and
  strand most buckets — ADVICE r3).
* build: the one cuckoo key partial (``build.key_partials``, mapInArrow)
  fingerprints each scan partition and emits one packed (bucket, tag)
  pair blob per (partition, shard) (:func:`sharded_pairs`); a single
  shuffle groups pair blobs by shard; the one blob merge
  (``sketches.base.merge_groups``, applyInArrow) runs the kick-loop
  combine per shard in parallel, pair blobs in source-partition order
  → one filter blob row per shard (:func:`combine_shards`). Shuffle
  volume is 8 bytes/key regardless of table size.
* query: with a modest shard count the blobs are collected + broadcast
  and probes route by shard inside the Arrow probe UDF
  (``query.might_contain_udf``); at full scale use
  ``sharded_might_contain_join``, which co-partitions the probe side's
  key hashes with the blob rows instead of broadcasting (one shuffle of
  the probe rows, applyInArrow per shard, no driver materialization).

Each shard is an independent reference-layout filter (§1.5 bytes), so
all single-filter semantics (merge, delete, serialization, FP bounds)
apply per shard.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from cuckoo_filter_spark.hashing import present_hashes
from cuckoo_filter_spark.kernel.filter import CuckooKernel, CuckooProbe
from cuckoo_filter_spark.operators.build import (
    DEFAULT_HEADROOM,
    canon_dedupe_pairs,
    check_mode,
    key_column,
    key_partials,
    pack_pairs,
    unpack_pairs,
)
from cuckoo_filter_spark.operators.query import (
    cached_probe,
    key_hash_udf,
    might_contain_udf,
)
from cuckoo_filter_spark.params import TABLE_SINGLE, CuckooParams

#: one row per (source partition, shard) of the pair-blob frame
PAIRS_ROW = pa.schema([
    ("shard", pa.int32()), ("partition_id", pa.int32()),
    ("rows", pa.int64()), ("distinct_keys", pa.int64()),
    ("blob", pa.binary()),
])

# Persisted-shard format version (ADVICE r4): bump whenever a code
# change alters probe semantics for ALREADY-PERSISTED shard artifacts.
# v2 = the r4 revisions — independent xxh64 shard routing (shard_of)
# and the vacuum adaptive alt-range clamp; shard parquet written
# before r5 carries NO format_version column and fails loud instead of
# returning silent false negatives when probed with current code.
SHARD_FORMAT_VERSION = 2

#: one filter blob row per shard
SHARD_ROW = pa.schema([
    ("shard", pa.int32()), ("rows", pa.int64()), ("stored", pa.int64()),
    ("distinct_keys", pa.int64()), ("kicks", pa.int64()),
    ("victim_used", pa.bool_()), ("load_factor", pa.float64()),
    ("wall_ms", pa.float64()), ("blob", pa.binary()),
    ("format_version", pa.int32()),
])


def check_shard_format(shards_df, where: str) -> None:
    """Fail loud when a shard frame/artifact was produced by an
    incompatible revision. One tiny distinct over the int column (at
    most num_shards rows); blobs are never touched."""
    if "format_version" not in shards_df.columns:
        raise ValueError(
            f"{where}: unversioned shard artifact (written before the "
            f"format_version column, i.e. pre-r5). Shard routing "
            f"(independent xxh64 re-hash) and vacuum alt-range "
            f"semantics changed in r4 — probing this artifact would "
            f"return silent false negatives. Rebuild the shards.")
    vs = sorted(
        r[0] for r in shards_df.select("format_version").distinct().collect())
    if vs != [SHARD_FORMAT_VERSION]:
        raise ValueError(
            f"{where}: shard format_version {vs} != "
            f"[{SHARD_FORMAT_VERSION}] — artifact written by an "
            f"incompatible library revision; rebuild the shards.")


def iter_shard_groups(shards: np.ndarray):
    """Group row indices by shard id (stable within a shard): yields
    (shard, row_indices). One stable integer argsort + boundary scan —
    the shared grouping used by the shard split and the probe routers."""
    if len(shards) == 0:
        return
    order = np.argsort(shards, kind="stable")
    ss = shards[order]
    bounds = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
    bounds = np.r_[bounds, len(ss)]
    for k in range(len(bounds) - 1):
        lo, hi = bounds[k], bounds[k + 1]
        yield int(ss[lo]), order[lo:hi]


def shard_of(h: np.ndarray, num_shards: int) -> np.ndarray:
    """Shard id = top log2(S) bits of an INDEPENDENT re-hash
    (xxh64-of-word) of the filter hash — not of the filter hash itself.

    Taking shard bits directly from h collides with the index bits once
    log2(S) + log2(per-shard num_buckets) > 32 (index = hi32 masked /
    modulo): each shard's hi32 would be confined to a 2^32/S slice,
    leaving most buckets unreachable as primary and overflowing the
    per-shard combine at ~10^10+ keys (certain at the advertised 10^12,
    where S=2^17 and nb≈2^22 — ADVICE r3). Conditioning on a value of
    the independent re-hash selects a pseudorandom subset of h, so each
    shard's index/tag distribution stays uniform at ANY (S, num_buckets)
    combination."""
    from cuckoo_filter_spark.hashing import xxh64_long_batch

    if num_shards == 1:  # h >> 64 is undefined behavior in numpy/C
        return np.zeros(len(h), dtype=np.int32)
    g = xxh64_long_batch(h)
    return (g >> np.uint64(64 - int(np.log2(num_shards)))).astype(np.int32)


def _shard_expr_jvm(hcol, num_shards: int):
    """JVM-side equivalent of shard_of over an xxhash64 column:
    F.xxhash64 of the LONG hash column is Spark's XXH64.hashLong — the
    same 8-byte-input specialization xxh64_long_batch computes (parity
    pinned by test_shard_hash_jvm_parity). The shift is masked to 0 on
    the JVM for num_shards=1, so special-case."""
    if num_shards == 1:
        return F.lit(0)
    return F.shiftrightunsigned(F.xxhash64(hcol),
                                64 - int(np.log2(num_shards))).cast("int")


@dataclass
class ShardedCuckooBuild:
    params: CuckooParams  # per-shard params
    num_shards: int
    blobs: dict[int, bytes]  # shard → filter blob (driver-collected)
    metrics: list[dict] = field(default_factory=list)
    path: str | None = None  # parquet dir of shard blob rows, if persisted
    hash_fn: str = "metro64"
    # exact global COUNT(DISTINCT key) — set only by mode='unique_global'
    # builds (raw-key dedupe under repartition(key) co-location; for
    # hash_fn='xxhash64' it counts distinct 64-bit hashes, an undercount
    # with probability ~n²/2^64)
    distinct_keys: int | None = None

    def load_blobs(self, spark) -> dict[int, bytes]:
        if not self.blobs and self.path:
            self.blobs = load_sharded_blobs(spark, self.path)
        return self.blobs

    def kernels(self) -> dict[int, CuckooKernel]:
        return {s: CuckooKernel.from_bytes(b) for s, b in self.blobs.items()}

    @property
    def size(self) -> int:
        return sum(k.size() for k in self.kernels().values())

    def contain(self, items) -> np.ndarray:
        """Driver-side probe (tests / small batches). For xxhash64
        builds, pass precomputed int64 hashes via contain_hashed64."""
        if self.hash_fn == "xxhash64":
            raise ValueError("xxhash64 build: probe via sharded_might_contain_udf "
                             "or contain_hashed64")
        present, h = present_hashes(items)
        out = np.zeros(len(present), dtype=bool)
        if len(h):
            out[present] = _probe_sharded(h, self.blobs, self.num_shards)
        return out

    def contain_hashed64(self, h: np.ndarray) -> np.ndarray:
        return _probe_sharded(h.astype(np.uint64), self.blobs,
                              self.num_shards)


def _probe_sharded(h: np.ndarray, blobs: dict[int, bytes], num_shards: int,
                   cache_key=None) -> np.ndarray:
    """Flags of hashes ``h``: each routes to its shard's blob and
    splits with that blob's own params (a vacuum build indexes by
    modulo; the pow2 mask would probe the wrong buckets). With
    ``cache_key`` (a broadcast id) the probe views come from the
    executor cache."""
    out = np.zeros(len(h), dtype=bool)
    for s, rows in iter_shard_groups(shard_of(h, num_shards)):
        blob = blobs.get(s)
        if blob is None:
            continue
        kern = (CuckooProbe(bytes(blob)) if cache_key is None
                else cached_probe(cache_key, s, blob))
        out[rows] = kern.contain_hashed(*kern.params.split(h[rows]))
    return out


def shard_pair_blobs(params: CuckooParams, h: np.ndarray, num_shards: int,
                     unique: bool) -> list[tuple[int, int, bytes]]:
    """One partition's hashes split by shard into packed (bucket, tag)
    pair blobs: ``[(shard, rows, blob)]`` in shard order, rows in scan
    order within a shard, canon-deduped per shard in unique modes
    (``rows`` counts the shard's hashes before that dedupe). THE shard
    split of the sharded, checkpointed and auto-shard routes."""
    if len(h) == 0:
        return []
    idx, tag = params.split(h)
    out = []
    for s, rs in iter_shard_groups(shard_of(h, num_shards)):
        bi, tg = idx[rs], tag[rs]
        if unique:
            bi, tg = canon_dedupe_pairs(params, bi, tg)
        out.append((s, len(rs), pack_pairs(bi, tg)))
    return out


def pairs_batch(pid: int, groups: list[tuple[int, int, bytes]],
                dk_by_shard: dict[int, int] | None = None) -> pa.RecordBatch:
    """``PAIRS_ROW`` rows of one source partition: its
    ``shard_pair_blobs`` groups and per-shard raw-key counts when they
    were computed (else NULL)."""
    dk = dk_by_shard or {}
    return pa.RecordBatch.from_pylist(
        [{"shard": s, "partition_id": pid, "rows": rows,
          "distinct_keys": dk.get(s), "blob": blob}
         for s, rows, blob in groups], schema=PAIRS_ROW)


def _shard_finisher(params: CuckooParams, num_shards: int, unique: bool):
    """``build.key_partials`` finisher of the sharded builds. Under
    unique_global the raw-key accumulator's distinct keys are grouped
    by shard: with repartition(key) co-location the per-shard sums
    across partitions are the exact global per-shard distinct counts
    (COUNT(DISTINCT) null semantics: null keys excluded)."""

    def finish(pid, rows, h, seen, t0):
        dk_by_shard = None
        if seen is not None and len(seen):
            hs = seen.table()["h"].to_numpy()
            s, c = np.unique(shard_of(hs, num_shards), return_counts=True)
            dk_by_shard = dict(zip(s.tolist(), c.tolist()))
        return pairs_batch(pid,
                           shard_pair_blobs(params, h, num_shards, unique),
                           dk_by_shard)

    return finish


def sharded_pairs(df, key_col: str, params: CuckooParams, num_shards: int,
                  mode: str = "unique_local", hash_fn: str = "metro64"):
    """The pair-blob frame (``PAIRS_ROW``) of a sharded build: the one
    cuckoo key partial, emitting one pair blob per (partition, shard)."""
    return key_partials(
        df, key_col, hash_fn, mode,
        _shard_finisher(params, num_shards, mode != "multiset"), PAIRS_ROW)


def _shard_combiner(params: CuckooParams, unique: bool):
    def combine(t: pa.Table) -> list[dict]:
        shard = t["shard"][0].as_py()
        t0 = time.perf_counter()
        kern = CuckooKernel(params, seed=0x1337C0FFEE ^ shard)
        pairs = [unpack_pairs(b) for b in t["blob"].to_pylist()]
        bi = np.concatenate([p[0] for p in pairs] or [np.zeros(0, np.int64)])
        tg = np.concatenate([p[1] for p in pairs]
                            or [np.zeros(0, np.uint32)])
        stored = kern.insert_pairs(bi, tg, dedupe=unique)
        return [{
            "shard": shard, "rows": pc.sum(t["rows"]).as_py(),
            "stored": stored,
            # NULL when the partial did not count raw keys (every
            # non-unique_global build)
            "distinct_keys": pc.sum(t["distinct_keys"]).as_py(),
            "kicks": kern.kicks, "victim_used": kern.victim_used,
            "load_factor": kern.load_factor(),
            "wall_ms": (time.perf_counter() - t0) * 1000.0,
            "blob": kern.to_bytes(), "format_version": SHARD_FORMAT_VERSION,
        }]

    return combine


def combine_shards(pairs: DataFrame, params: CuckooParams,
                   unique: bool) -> DataFrame:
    """Pair-blob frame → one filter blob row per shard (``SHARD_ROW``):
    ONE shuffle by shard, then the kick-loop combine per shard through
    ``sketches.base.merge_groups`` (pair blobs in source-partition
    order, so a shard's bytes do not depend on shuffle order)."""
    from cuckoo_filter_spark.sketches.base import merge_groups

    return merge_groups(pairs, ["shard"], _shard_combiner(params, unique),
                        SHARD_ROW)


#: the metrics keys of every sharded route (declared, auto-shard,
#: checkpointed) — one metrics shape on all of them
SHARD_METRICS = ("shard", "rows", "stored", "distinct_keys", "kicks",
                 "victim_used", "load_factor", "wall_ms")


def collect_shards(shards: DataFrame, output_path: str | None):
    """(blobs, metrics) of a shard frame. With ``output_path`` the
    executors write the blob rows to parquet and only the metrics
    columns reach the driver (blobs stay {}); otherwise every row is
    collected."""
    if output_path is not None:
        shards.write.mode("overwrite").parquet(output_path)
        mrows = shards.sparkSession.read.parquet(output_path).drop(
            "blob").collect()
        blobs = {}
    else:
        mrows = shards.collect()
        blobs = {int(r["shard"]): bytes(r["blob"]) for r in mrows}
    return blobs, [{k: r[k] for k in SHARD_METRICS} for r in mrows]


def shard_geometry(df, key_col: str, capacity: int | None,
                   num_shards: int, tags_per_bucket: int,
                   bits_per_item: int, table_type: int, mode: str,
                   headroom: float, hash_fn: str = "metro64"
                   ) -> tuple[int, CuckooParams]:
    """(capacity, per-shard params): the one geometry step of the
    sharded and checkpointed builders. ``shard_of`` routes by the top
    log2(S) hash bits, so S must be a power of two."""
    check_mode(mode)
    if num_shards <= 0 or num_shards & (num_shards - 1):
        raise ValueError("num_shards must be a power of two")
    if capacity is None:
        capacity = key_column(df, key_col, hash_fn).count()
    per_shard_cap = max(int(capacity * headroom / num_shards), 64)
    return capacity, CuckooParams.for_capacity(
        per_shard_cap, tags_per_bucket, bits_per_item, table_type)


def build_sharded_cuckoo_filter(
    df,
    key_col: str,
    capacity: int | None = None,
    num_shards: int = 32,
    tags_per_bucket: int = 4,
    bits_per_item: int = 16,
    table_type: int = TABLE_SINGLE,
    mode: str = "unique_local",
    headroom: float = DEFAULT_HEADROOM,
    output_path: str | None = None,
    hash_fn: str = "metro64",
) -> ShardedCuckooBuild:
    """Fully-distributed sharded build. One shuffle (pair blobs by
    shard); the kick-loop combine runs per shard on executors.

    output_path: if set, shard blob rows are written to parquet by the
    executors (the 10^12 workflow — blobs never pass through the
    driver); only the small metrics columns are collected. Otherwise
    blobs are collected into the returned object (test/interactive).

    mode='unique_global' adds ONE extra shuffle — repartition(key) — so
    duplicate keys co-locate and the partial's partition-local raw-key
    dedupe yields exact per-shard distinct counts (metrics rows gain a
    ``distinct_keys`` column; the build's ``distinct_keys`` attribute is
    their sum). The filter bytes are identical to unique_local (both
    dedupe fingerprints); only the counting differs.

    hash_fn='xxhash64' hashes JVM-side (``build.key_column``): only
    8-byte hashes cross the Arrow bridge instead of the key bytes.

    table_type=TABLE_VACUUM composes with sharding (~25-45% smaller
    shards): the shard id comes from an independent re-hash of the key
    hash (shard_of), so conditioning on a shard leaves each shard's hi32
    — and therefore the vacuum index hi32 % num_buckets — uniformly
    distributed at any (S, num_buckets) combination; there is no
    slice-confinement bias to absorb (pre-r4 top-of-hash shard bits had
    a num_buckets·S/2^32 bias that degenerated past 2^32 — ADVICE r3).
    The alternate-index XOR stays chunk-confined exactly as in the
    single-filter layout (membership parity is pinned by
    test_sharded_vacuum_*)."""
    _, params = shard_geometry(df, key_col, capacity, num_shards,
                               tags_per_bucket, bits_per_item, table_type,
                               mode, headroom, hash_fn)
    pairs = sharded_pairs(df, key_col, params, num_shards, mode, hash_fn)
    blobs, metrics = collect_shards(
        combine_shards(pairs, params, mode != "multiset"), output_path)
    dk_total = (sum(m["distinct_keys"] or 0 for m in metrics)
                if mode == "unique_global" else None)
    return ShardedCuckooBuild(
        params=params, num_shards=num_shards, blobs=blobs, metrics=metrics,
        path=output_path, hash_fn=hash_fn, distinct_keys=dk_total,
    )


def load_sharded_blobs(spark, path: str) -> dict[int, bytes]:
    sdf = spark.read.parquet(path)
    check_shard_format(sdf, "load_sharded_blobs")
    rows = sdf.select("shard", "blob").collect()
    return {int(r["shard"]): bytes(r["blob"]) for r in rows}


def cogroup_prober(cols: list[str], flag_col: str):
    """The applyInArrow body of the cogroup probes (by shard here, by
    group in ``grouped.grouped_might_contain_join``): one cogroup key's
    probe rows, carrying ``__h`` from ``query.key_hash_udf``, against its
    one blob row. ``cols`` plus a boolean ``flag_col`` come out; a key
    with no blob row, or a missing probe key (NULL ``__h``), answers
    False."""

    def probe_group(key, left: pa.Table, right: pa.Table) -> pa.Table:
        flags = np.zeros(left.num_rows, dtype=bool)
        if left.num_rows and right.num_rows > 1:
            # probing only blob row 0 would silently miss every key
            # stored in the other blob (false negatives)
            raise ValueError(
                f"cogroup key {[k.as_py() for k in key]} has "
                f"{right.num_rows} blob rows — duplicate rows per "
                f"shard/group (were two builds' frames unioned?)")
        if left.num_rows and right.num_rows:
            kern = CuckooProbe(right["blob"][0].as_py())
            present, h = present_hashes(left["__h"], prehashed=True)
            flags[present] = kern.contain_hashed(*kern.params.split(h))
        return left.select(cols).append_column(flag_col, pa.array(flags))

    return probe_group


def sharded_might_contain_join(
    probe: DataFrame,
    key_col: str,
    build: ShardedCuckooBuild,
    shards_df: DataFrame | None = None,
    flag_col: str = "might_contain",
) -> DataFrame:
    """Beyond-broadcast probe: co-partition the probe side with the shard
    blob rows (cogroup by shard id) so each task loads exactly ONE shard
    blob — no driver materialization, no broadcast. This is the probe
    path when total blob volume exceeds broadcast limits (10^11+ keys).

    Returns probe columns + a boolean ``flag_col``. One shuffle of the
    probe keys; blob rows shuffle once (they are tiny relative to 10^12
    probe rows)."""
    spark = probe.sparkSession
    if shards_df is None:
        if build.path is None:
            raise ValueError("need shards_df or a persisted build path")
        sdf = spark.read.parquet(build.path)
        check_shard_format(sdf, "sharded_might_contain_join")
        shards_df = sdf.select("shard", "blob")
    else:
        # explicitly-passed frames get the SAME guard: every legit
        # producer stamps format_version, so a frame without it is a
        # stale pre-r5 artifact (silent false negatives if probed)
        check_shard_format(shards_df, "sharded_might_contain_join")
        shards_df = shards_df.select("shard", "blob")
    from pyspark.sql.types import BooleanType, StructField, StructType

    cols = probe.columns
    # fresh StructType — StructType.add mutates in place, planting a
    # phantom flag column in the caller's cached probe.schema (latent
    # here because the withColumn below always rebuilt the schema, but
    # the caller's own DataFrame object was still corrupted)
    out_schema = StructType(list(probe.schema.fields)
                            + [StructField(flag_col, BooleanType())])

    probe_sh = probe.withColumn(
        "__h", key_hash_udf(build.hash_fn)(F.col(key_col)))
    probe_sh = probe_sh.withColumn(
        "__shard", _shard_expr_jvm(F.col("__h"), build.num_shards))
    blobs_sh = shards_df.withColumnRenamed("shard", "__shard")
    return (
        probe_sh.groupBy("__shard")
        .cogroup(blobs_sh.groupBy("__shard"))
        .applyInArrow(cogroup_prober(cols, flag_col), out_schema)
    )


#: one row per shard of the sharded delete
DELETE_ROW = pa.schema([
    ("shard", pa.int32()), ("requested", pa.int64()), ("deleted", pa.int64()),
    ("victim_used", pa.bool_()), ("blob", pa.binary()),
    ("format_version", pa.int32()),
])


def sharded_delete(
    keys_df: DataFrame,
    key_col: str,
    build: ShardedCuckooBuild,
    shards_df: DataFrame | None = None,
    output_path: str | None = None,
) -> ShardedCuckooBuild:
    """Fully-distributed delete (reference Delete + TryEliminateVictim,
    cuckoofilter.go:191-213, applied per shard).

    The delete keys are cogrouped with the shard blob rows by shard id,
    so each task rewrites exactly ONE shard kernel — delete keys never
    pass through the driver and no blob is broadcast. One shuffle of
    (hash, shard) rows; per-shard deletes run in parallel on
    executors. The build should be mode='multiset' (reference semantics:
    Delete removes one stored copy per call; a deduped membership build
    would make the second delete of a colliding key fail).

    Returns a NEW ShardedCuckooBuild with the updated blobs; per-shard
    metrics carry requested/deleted counts so callers can assert
    ``deleted == requested`` (no false negatives ⇒ every inserted key
    deletes successfully).
    """
    spark = keys_df.sparkSession
    if shards_df is None:
        if build.path is not None:
            sdf = spark.read.parquet(build.path)
            check_shard_format(sdf, "sharded_delete")
            shards_df = sdf.select("shard", "blob")
        else:
            # in-session blobs from the live build object: trusted
            # (current code produced them), no version column needed
            shards_df = spark.createDataFrame(
                [(int(s), bytearray(b)) for s, b in build.blobs.items()],
                "shard int, blob binary",
            )
    else:
        # explicitly-passed frames: same stale-artifact guard as the
        # probe join — legit producers always stamp format_version
        check_shard_format(shards_df, "sharded_delete")
        shards_df = shards_df.select("shard", "blob")
    keyed = keys_df.select(
        key_hash_udf(build.hash_fn)(F.col(key_col)).alias("__h"))
    keyed = keyed.withColumn(
        "__shard", _shard_expr_jvm(F.col("__h"), build.num_shards))

    def delete_group(left: pa.Table, right: pa.Table) -> pa.Table:
        def row(shard, deleted=0, victim_used=False, blob=None):
            return pa.Table.from_pylist([{
                "shard": shard, "requested": left.num_rows,
                "deleted": deleted, "victim_used": victim_used,
                "blob": blob, "format_version": SHARD_FORMAT_VERSION,
            }], schema=DELETE_ROW)

        if right.num_rows == 0:
            # keys routed to a shard that was never built: nothing stored
            # there, so nothing deletes (reference Delete returns false)
            return row(left["__shard"][0].as_py())
        shard = right["__shard"][0].as_py()
        if right.num_rows > 1:
            # rewriting only blob row 0 would drop the other blob from
            # the output artifact — permanent data loss
            raise ValueError(
                f"shard {shard} has {right.num_rows} blob rows — duplicate "
                f"rows per shard (were two builds' frames unioned?)")
        blob = right["blob"][0].as_py()
        if left.num_rows == 0:  # untouched shard passes through unchanged
            return row(shard, blob=blob)
        kern = CuckooKernel.from_bytes(blob)
        # NULL delete requests (NULL __h) are no-ops: nothing is stored
        # under NULL
        _, h = present_hashes(left["__h"], prehashed=True)
        ok = kern.delete_hashed(*kern.params.split(h))
        return row(shard, int(ok.sum()), kern.victim_used, kern.to_bytes())

    blobs_sh = shards_df.withColumnRenamed("shard", "__shard")
    updated = (
        keyed.groupBy("__shard")
        .cogroup(blobs_sh.groupBy("__shard"))
        .applyInArrow(delete_group, from_arrow_schema(DELETE_ROW))
    )

    if output_path is not None:
        # persist so the parquet write and the metrics collect see the
        # SAME computation; metrics must keep null-blob rows (delete
        # keys routed to never-built shards), or the deleted==requested
        # accounting would silently hide undeletable requests
        updated = updated.persist()
        updated.where(F.col("blob").isNotNull()).write.mode("overwrite").parquet(
            output_path)
        mrows = updated.drop("blob").collect()
        updated.unpersist()
        blobs = {}
    else:
        mrows = updated.collect()
        blobs = {int(r["shard"]): bytes(r["blob"]) for r in mrows
                 if r["blob"] is not None}
    metrics = [
        {k: r[k] for k in ("shard", "requested", "deleted", "victim_used")}
        for r in mrows
    ]
    return ShardedCuckooBuild(
        params=build.params, num_shards=build.num_shards, blobs=blobs,
        metrics=metrics, path=output_path, hash_fn=build.hash_fn,
    )


def sharded_might_contain_udf(spark, build: ShardedCuckooBuild):
    """Broadcast probe: hash once, route by shard, probe per shard —
    ``query.might_contain_udf``, which takes sharded builds too."""
    return might_contain_udf(spark, build)
