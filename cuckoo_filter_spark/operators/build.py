"""Distributed cuckoo-filter build (build plan M2, lifecycle SURVEY.md §3).

The build is the mergeable-UDAF pattern Spark uses for its own partial
aggregates: a per-partition *partial* is computed inside ``mapInArrow``
(Arrow batches → vectorized metro64 fingerprinting; no per-row Python,
no pandas), partials are combined with the associative merge (SURVEY.md
§2.3 — sound because the alt-index is an involution,
cuckoofilter.go:105-108).

Every route runs ONE partial (:func:`key_partials`): per batch it drops
the NULL keys once, hashes the rest once and counts them; at the end of
the partition a small per-route finisher emits

* raw 64-bit hashes (deferred sizing — no capacity given; the table is
  sized at combine time from the deduped global count);
* (bucket, tag) pairs, canon-deduped in unique modes (declared
  capacity). This is a cuckoo filter whose eviction work is deferred:
  insertion order is free, so running the kick loop once at combine
  time yields the same membership;
* per-shard pair blobs (the sharded, checkpointed and auto-shard routes;
  ``operators.sharded``).

Partial size ∝ keys in the partition (8 bytes/key), NOT table size — at
10^12 rows the collected/shuffled volume is the data's fingerprint
volume, and no executor ever materializes a full table during the scan.

Scale notes (100 TB / 10^12 rows):
* plain/unique_local modes are shuffle-free: partials build on the scan
  partitioning; only pair blobs move to the combiner.
* ``unique_global`` adds exactly one shuffle — ``repartition(key)`` — so
  duplicate keys co-locate and partition-local dedupe is globally exact.
* one driver-combined filter caps out around 10^8 keys; beyond that use
  ``cuckoo_filter_spark.operators.sharded`` (shard by an independent
  re-hash; each shard built/combined independently on executors).
"""

from __future__ import annotations

import struct
import time
from dataclasses import dataclass, field
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa

from cuckoo_filter_spark.hashing import present_hashes
from cuckoo_filter_spark.kernel.filter import CuckooKernel
from cuckoo_filter_spark.params import TABLE_SINGLE, CuckooParams

#: one row per partition of the single-filter routes
BUILD_ROW = pa.schema([
    ("partition_id", pa.int32()), ("rows", pa.int64()),
    ("stored", pa.int64()), ("distinct_keys", pa.int64()),
    ("kicks", pa.int64()), ("victim_used", pa.bool_()),
    ("load_factor", pa.float64()), ("wall_ms", pa.float64()),
    ("blob", pa.binary()),
])

# Default headroom over the observed/declared key count when sizing the
# table, so merged partials stay under max_load_factor (SURVEY.md §7 M5).
DEFAULT_HEADROOM = 1.15

# Above this many keys the single-blob build auto-routes to the sharded
# build: the classic path collects 8 B/key of pair/hash blobs to the
# driver, which is fine to ~10^7-10^8 keys and a driver OOM at 10^12.
# The sharded path's combine runs per shard on executors. NOTE the
# routed build still collects the finished shard TABLE blobs (~2.1 B/key
# at f=16) unless shard_output_path is given — fine to ~10^9 keys
# (~2.3 GB); beyond that pass shard_output_path so executors write the
# blobs to storage and only metrics rows reach the driver (the
# build_sharded_cuckoo_filter output_path contract).
AUTO_SHARD_THRESHOLD = 10_000_000

# Routed builds above this many keys warn if no shard_output_path is
# given (the driver-side blob dict would exceed ~2 GB).
BLOB_COLLECT_WARN_KEYS = 1_000_000_000

_SPARSE_MAGIC = b"SPRS"
_HASH_MAGIC = b"HSH8"


def pack_hashes(h: np.ndarray) -> bytes:
    return _HASH_MAGIC + struct.pack("<Q", len(h)) + h.astype("<u8").tobytes()


def unpack_hashes(blob: bytes) -> np.ndarray:
    assert blob[:4] == _HASH_MAGIC
    (n,) = struct.unpack_from("<Q", blob, 4)
    return np.frombuffer(blob, dtype="<u8", count=n, offset=12)


def pack_pairs(bi: np.ndarray, tags: np.ndarray) -> bytes:
    return (
        _SPARSE_MAGIC
        + struct.pack("<Q", len(bi))
        + bi.astype("<u4").tobytes()
        + tags.astype("<u4").tobytes()
    )


def unpack_pairs(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    assert blob[:4] == _SPARSE_MAGIC
    (n,) = struct.unpack_from("<Q", blob, 4)
    bi = np.frombuffer(blob, dtype="<u4", count=n, offset=12).astype(np.int64)
    tags = np.frombuffer(blob, dtype="<u4", count=n, offset=12 + 4 * n).astype(np.uint32)
    return bi, tags


@dataclass
class CuckooBuild:
    """Result of a distributed build: the final blob + per-partition lineage."""

    params: CuckooParams
    blob: bytes
    metrics: list[dict] = field(default_factory=list)
    hash_fn: str = "metro64"

    def kernel(self) -> CuckooKernel:
        return CuckooKernel.from_bytes(self.blob)

    @property
    def size(self) -> int:
        return self.kernel().size()

    def metrics_df(self, spark):
        cols = ["partition_id", "rows", "stored", "kicks", "victim_used",
                "load_factor", "wall_ms"]
        rows = [tuple(m[c] for c in cols) for m in self.metrics]
        return spark.createDataFrame(
            rows,
            "partition_id int, rows bigint, stored bigint, kicks bigint, "
            "victim_used boolean, load_factor double, wall_ms double",
        )


# per-partition key budget for count_distinct_exact's in-memory raw-key
# distinct (``sketches.base.DistinctRows``, no spill): ~20M URL-sized
# keys ≈ 1-3 GB of Arrow string storage — safely inside one executor
# task's memory.
# Mirrors _choose_num_shards' ~8M-keys-per-shard sizing rule.
KEYS_PER_COUNT_PARTITION = 20_000_000


def choose_count_partitions(default_parallelism: int, est_rows: int | None) -> int:
    """Auto partition count for count_distinct_exact: enough partitions
    that no partition's raw-key distinct holds more than
    ~KEYS_PER_COUNT_PARTITION keys, floored at the session parallelism."""
    if est_rows is None:
        return default_parallelism
    return max(default_parallelism, -(-est_rows // KEYS_PER_COUNT_PARTITION))


def count_distinct_exact(
    df: DataFrame,
    key_col: str,
    num_partitions: int | None = None,
    est_rows: int | None = None,
) -> int:
    """Exact global COUNT(DISTINCT key_col) with NO blob emission and no
    per-key driver traffic — the count-only companion of the
    ``mode='unique_global'`` build (which exists to produce a FILTER and
    pays 8 B/key of pair blobs for it; at 10^9+ distinct keys that
    collect is a driver OOM the count never needed).

    Shape: repartition(key) co-locates duplicates, the grouped Arrow
    partial (``sketches.base.grouped_partials``) with no group column
    dedupes RAW keys per partition (COUNT(DISTINCT) null semantics:
    NULL/NaN excluded, -0.0 counts as 0.0; exact under co-location),
    and the per-partition counts are summed JVM-side; exactly ONE
    aggregated row reaches the driver. Same two-phase shape as
    grouped_distinct_count (grouped.py) with a single global group.

    ``df.select(key).distinct().count()`` is the pure-JVM equivalent —
    use it when no lineage is needed; this path exists so callers of the
    build API get the identical raw-key semantics (and partition-local
    dedupe, which never shuffles more than one row per partition after
    the key shuffle) without constructing a filter.

    Partition sizing (VERDICT r4 #3): each partition's raw-key distinct
    holds its slice of the DISTINCT raw keys in memory (no spill), so
    at 10^12-key scale ``defaultParallelism`` partitions would OOM the
    executors. Pass ``est_rows`` (an upper bound is fine — extra
    partitions only add tiny 1-row outputs) and the default becomes
    ``max(defaultParallelism, ceil(est_rows / KEYS_PER_COUNT_PARTITION))``
    — ~20M keys ≈ 1-3 GB of string storage per partition. With neither
    ``num_partitions`` nor ``est_rows``, the small-input default of
    ``defaultParallelism`` applies (right below ~10^9 keys on a
    32-way session; declare the size above that).
    """
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.sketches.base import grouped_partials

    dp = df.sparkSession.sparkContext.defaultParallelism
    n = num_partitions or choose_count_partitions(dp, est_rows)
    sel = df.select(key_col).repartition(n, F.col(key_col))
    parts = grouped_partials(sel, [], key_col)
    row = parts.agg(F.sum("n").alias("n")).collect()[0]
    return int(row["n"] or 0)


def check_mode(mode: str) -> None:
    """Reject an unknown build ``mode`` before any Spark job runs: an
    unchecked typo would silently build a unique_local filter."""
    if mode not in ("unique_local", "unique_global", "multiset"):
        raise ValueError(f"unknown mode {mode!r}")


def canon_dedupe_pairs(params: CuckooParams, bi: np.ndarray,
                       tags: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Keep the first occurrence per canonical (bucket-pair, tag) —
    set semantics on the fingerprint space; orientation-independent via
    the alt involution. Shared by the declared-capacity finisher and
    the shard split (one definition, one future fix)."""
    if len(bi) == 0:
        return bi, tags
    alt = params.alt(bi, tags)
    canon = (np.minimum(bi, alt).astype(np.uint64) << np.uint64(32)) | tags
    _, first = np.unique(canon, return_index=True)
    first = np.sort(first)
    return bi[first], tags[first]


def key_column(df, key_col: str, hash_fn: str):
    """``df[key_col]`` as the one column a key partial reads. For
    ``hash_fn='xxhash64'`` that is the JVM-side xxhash64 of each
    NON-NULL key (whole-stage codegen; only 8-byte hashes cross the
    Arrow bridge). Nulls are dropped BEFORE hashing: F.xxhash64(NULL)
    is the seed 42, a non-null bigint that would store a phantom
    fingerprint and inflate distinct_keys."""
    if hash_fn == "xxhash64":
        from pyspark.sql import functions as F

        return df.where(F.col(key_col).isNotNull()).select(
            F.xxhash64(key_col).alias(key_col))
    if hash_fn != "metro64":
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return df.select(key_col)


#: a key partial's per-route end of partition: (partition id, non-null
#: rows, the partition's hashes in scan order, the distinct (key, h)
#: rows of its raw keys or None, start time) -> the output RecordBatch
Finisher = Callable[[int, int, np.ndarray, "DistinctRows | None", float],
                    pa.RecordBatch]


def _key_partial_fn(finish: Finisher, prehashed: bool, count_keys: bool):
    """The mapInArrow generator of :func:`key_partials`."""

    def partial(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        t0 = time.perf_counter()
        rows = 0
        hs: list[np.ndarray] = []
        # count_keys: dedupe RAW keys (with their hash, so the sharded
        # finisher can group the distinct keys by shard). Imported only
        # then: the sketches package is not a cuckoo task's import cost
        seen = None
        if count_keys:
            from cuckoo_filter_spark.sketches.base import DistinctRows

            seen = DistinctRows()
        for batch in batches:
            keys = batch.column(0)
            present, h = present_hashes(keys, prehashed)
            if len(h) == 0:
                continue
            rows += len(h)
            if seen is not None:
                seen.add(pa.table({"key": keys.filter(pa.array(present)),
                                   "h": h}))
            hs.append(h)
        h = np.concatenate(hs) if hs else np.zeros(0, dtype=np.uint64)
        yield finish(pid, rows, h, seen, t0)

    return partial


def key_partials(df, key_col: str, hash_fn: str, mode: str,
                 finish: Finisher, schema: pa.Schema,
                 num_partitions: int | None = None):
    """THE per-partition partial of every cuckoo build route: one
    mapInArrow pass over ``df[key_col]``. Per batch the missing keys are
    dropped and the rest hashed once (``hashing.present_hashes``, the
    key step every probe shares) and counted; under
    ``mode='unique_global'`` the raw keys also feed the Arrow raw-key
    distinct (``sketches.base.DistinctRows``). ``finish`` turns the
    partition's hashes into its output rows (``schema``).

    ``unique_global`` repartitions by key first (``num_partitions`` or
    the session parallelism) so duplicate keys co-locate and the
    partition-local raw-key counts sum to the exact global count; other
    modes repartition only when ``num_partitions`` is given."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    sel = key_column(df, key_col, hash_fn)
    if mode == "unique_global":
        n = num_partitions or sel.sparkSession.sparkContext.defaultParallelism
        sel = sel.repartition(n, F.col(key_col))
    elif num_partitions:
        sel = sel.repartition(num_partitions)
    fn = _key_partial_fn(finish, hash_fn == "xxhash64",
                         mode == "unique_global")
    return sel.mapInArrow(fn, from_arrow_schema(schema))


def _build_row(pid: int, rows: int, stored: int, seen, load_factor,
               t0: float, blob: bytes) -> pa.RecordBatch:
    return pa.RecordBatch.from_pylist([{
        "partition_id": pid, "rows": rows, "stored": stored,
        "distinct_keys": len(seen) if seen is not None else None,
        "kicks": 0, "victim_used": False, "load_factor": load_factor,
        "wall_ms": (time.perf_counter() - t0) * 1000.0, "blob": blob,
    }], schema=BUILD_ROW)


def _hash_finisher(unique: bool) -> Finisher:
    """Deferred sizing: the partition's raw 64-bit hashes (8 B/key, the
    same volume as split pairs). Table params are sized at combine time
    from the DEDUPED global count — one scan total, no separate count()
    pass, and the table is sized on distinct keys rather than row count
    (tighter at high duplication)."""

    def finish(pid, rows, h, seen, t0):
        if unique and len(h):
            h = np.unique(h)  # same-key copies share a hash; canon-space
            # dedupe happens again at insert time with the final params
        return _build_row(pid, rows, len(h), seen, None, t0, pack_hashes(h))

    return finish


def _pair_finisher(params: CuckooParams, unique: bool) -> Finisher:
    """Declared capacity: the partition's (bucket, tag) pairs,
    canon-deduped in unique modes.

    ``distinct_keys`` (unique_global) is the raw-key count: fingerprints
    collide on the ~nb·2^f canon space, so ``stored`` under-counts
    distinct keys with probability growing ~n²/canon_space, while the
    raw-key count is exact within the partition (and globally exact
    under ``unique_global`` co-location, COUNT(DISTINCT) null
    semantics: nulls/NaN excluded)."""

    def finish(pid, rows, h, seen, t0):
        bi, tags = params.split(h)
        if unique:
            bi, tags = canon_dedupe_pairs(params, bi, tags)
        return _build_row(pid, rows, len(bi), seen,
                          len(bi) / params.size_in_tags, t0,
                          pack_pairs(bi, tags))

    return finish


def cuckoo_partials(df, key_col: str, params: CuckooParams | None = None,
                    mode: str = "unique_local", hash_fn: str = "metro64",
                    num_partitions: int | None = None):
    """The partial frame (``BUILD_ROW``) of a single-filter build: one
    row per partition carrying raw hashes when ``params`` is None
    (deferred sizing), else (bucket, tag) pairs for ``params``."""
    unique = mode != "multiset"
    finish = (_hash_finisher(unique) if params is None
              else _pair_finisher(params, unique))
    return key_partials(df, key_col, hash_fn, mode, finish, BUILD_ROW,
                        num_partitions)


def _choose_num_shards(capacity: int) -> int:
    """Shard count for auto-routed builds: ~8M keys per shard (a few MB
    of table each), floored at 32 so the combine parallelizes."""
    from cuckoo_filter_spark.params import next_pow2

    return max(32, next_pow2(max(int(np.ceil(capacity / 8_000_000)), 1)))


def _warn_blob_collect(n_keys: int, shard_output_path: str | None) -> None:
    if shard_output_path is None and n_keys > BLOB_COLLECT_WARN_KEYS:
        import warnings

        warnings.warn(
            f"auto-shard routed build over ~{n_keys} keys will collect "
            f"~{n_keys * 2.1 / 1e9:.1f} GB of shard table blobs to the "
            f"driver; pass shard_output_path so executors write them to "
            f"storage instead (only metrics rows then reach the driver)")


def _sharded_from_hash_partials(parts, est_keys: int, num_shards: int,
                                tags_per_bucket: int, bits_per_item: int,
                                table_type: int, headroom: float, unique: bool,
                                hash_fn: str, output_path: str | None = None,
                                distinct_total: int | None = None):
    """Deferred-sizing build whose observed key count crossed the
    auto-shard threshold: re-shuffle the already-computed per-partition
    hash blobs by shard (NO second scan of the source) and run the
    per-shard kick combine on executors — the driver never sees pair
    blobs. Sizing uses the sum of per-partition deduped counts, an upper
    bound on the global distinct count, so shards land at or below the
    target load."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from cuckoo_filter_spark.operators import sharded as sh

    per_shard_cap = max(int(est_keys * headroom / num_shards), 64)
    params = CuckooParams.for_capacity(per_shard_cap, tags_per_bucket,
                                       bits_per_item, table_type)

    def explode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for pid, rows_n, blob in zip(*(c.to_pylist() for c in batch.columns)):
                if rows_n:
                    # the partial's partition_id keeps the per-shard
                    # combine order deterministic; per-shard raw-key
                    # counts were not computed on this path (hash
                    # partials lost the raw keys) — the exact total
                    # travels via distinct_total instead
                    h = unpack_hashes(blob)
                    groups = sh.shard_pair_blobs(params, h, num_shards,
                                                 unique)
                    # unique-mode hash partials already folded same-key
                    # copies (np.unique): credit them to the first shard
                    # row so the shard rows still sum to the non-null
                    # row count
                    s, r, pairs = groups[0]
                    groups[0] = (s, r + rows_n - len(h), pairs)
                    yield sh.pairs_batch(pid, groups)

    pairs = parts.select("partition_id", "rows", "blob").mapInArrow(
        explode, from_arrow_schema(sh.PAIRS_ROW))
    blobs, metrics = sh.collect_shards(
        sh.combine_shards(pairs, params, unique), output_path)
    return sh.ShardedCuckooBuild(
        params=params, num_shards=num_shards, blobs=blobs,
        metrics=metrics, path=output_path, hash_fn=hash_fn,
        distinct_keys=distinct_total)


def build_cuckoo_filter(
    df,
    key_col: str,
    capacity: int | None = None,
    tags_per_bucket: int = 4,
    bits_per_item: int = 16,
    table_type: int = TABLE_SINGLE,
    mode: str = "unique_local",
    num_partitions: int | None = None,
    headroom: float = DEFAULT_HEADROOM,
    params: CuckooParams | None = None,
    hash_fn: str = "metro64",
    auto_shard: int | None = AUTO_SHARD_THRESHOLD,
    shard_output_path: str | None = None,
) -> CuckooBuild:
    """Build one global cuckoo filter over ``df[key_col]``.

    capacity: expected number of keys. If None (and no ``params``),
    sizing is DEFERRED: partials carry raw 64-bit hashes and the table
    is sized at combine time from the deduped count — one scan total
    (no count() pass) and tighter tables under duplication.

    mode:
    * ``unique_local`` (default) — set semantics for membership filters:
      per-partition fingerprint dedupe + dedup combine; no shuffle; one
      stored copy per fingerprint. (A key's copies can only occupy its 2
      candidate buckets — ≤ 2b slots — so multiset inserts of heavily
      duplicated keys overflow; membership never needs the copies.)
    * ``unique_global`` — additionally ``repartition(key)`` so duplicate
      keys co-locate; per-partition RAW-key dedupe counts (the
      ``distinct_keys`` metric) then sum to the exact global distinct
      count (one shuffle). ``stored`` stays the fingerprint count, which
      can undercount distinct keys via canon-space collisions — use
      ``distinct_keys`` for exact counting. (With hash_fn='xxhash64' the
      "raw key" is the JVM 64-bit hash, so the count is exact w.r.t. the
      hash and probabilistically exact w.r.t. keys, ~n²/2⁶⁵ collision
      odds.)
    * ``multiset`` — reference Add semantics (one copy per row); needed
      when delete must track per-row copies.

    hash_fn: ``metro64`` (default — reference-parity fingerprints, blobs
    cross-decodable with the Go layout) or ``xxhash64`` — Spark computes
    the 64-bit hash JVM-side in whole-stage codegen and Python only
    splits/inserts; fastest path when reference hash parity isn't needed.
    Probes must use the same hash_fn (might_contain_udf handles this).

    auto_shard: when the (declared or observed) key count exceeds this
    threshold the build routes to ``build_sharded_cuckoo_filter`` and
    returns a :class:`ShardedCuckooBuild` — the classic path collects
    8 B/key of pair blobs to the driver, a driver OOM at 10^9+ keys.
    ``might_contain_udf`` and the semi/anti joins accept both build
    types, so the routing is transparent to query code. Not applied to
    explicit ``params``. ``None`` disables. ``unique_global`` routes
    like the rest (the repartition(key) co-location and the shard
    shuffle compose): the routed build carries the exact distinct count
    in ``build.distinct_keys``; callers that only need the COUNT should
    use :func:`count_distinct_exact`, which never emits blobs at all.

    shard_output_path: where a ROUTED build's shard blobs are written
    (by the executors; only metrics rows reach the driver). Without it
    a routed build driver-collects the shard table blobs (~2.1 B/key at
    f=16) — fine to ~10^9 keys, warned about beyond. Ignored when the
    build does not route.
    """
    check_mode(mode)
    if hash_fn not in ("metro64", "xxhash64"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    may_route = auto_shard is not None and params is None
    if may_route and capacity is not None and capacity > auto_shard:
        from cuckoo_filter_spark.operators.sharded import (
            build_sharded_cuckoo_filter,
        )

        _warn_blob_collect(capacity, shard_output_path)
        if num_partitions and mode != "unique_global":
            # honor the caller's parallelism request on the routed path
            # too — EXCEPT for unique_global, whose sharded build
            # immediately repartitions by key anyway: a round-robin
            # shuffle first would just move the whole input twice
            df = df.repartition(num_partitions)
        return build_sharded_cuckoo_filter(
            df, key_col, capacity=capacity,
            num_shards=_choose_num_shards(capacity),
            tags_per_bucket=tags_per_bucket, bits_per_item=bits_per_item,
            table_type=table_type, mode=mode, headroom=headroom,
            hash_fn=hash_fn, output_path=shard_output_path)
    if params is None and capacity is not None:
        params = CuckooParams.for_capacity(
            max(int(capacity * headroom), 64), tags_per_bucket,
            bits_per_item, table_type)  # dispatches vacuum sizing
    # No params → defer table sizing to combine time (partials carry raw
    # hashes): avoids a dedicated count() scan.
    deferred = params is None
    unique = mode != "multiset"
    count_keys = mode == "unique_global"
    parts = cuckoo_partials(df, key_col, params, mode, hash_fn, num_partitions)
    if deferred and may_route:
        # observe the (partition-deduped) key count from the tiny metric
        # columns BEFORE pulling any blob to the driver; if it crosses
        # the threshold, shuffle the persisted hash partials by shard
        # and combine on executors instead.
        parts = parts.persist()
        try:
            mrows = parts.select("stored", "distinct_keys").collect()
            est = sum(r["stored"] for r in mrows)
            if est > auto_shard:
                _warn_blob_collect(est, shard_output_path)
                # unique_global partials already carry exact raw-key
                # distinct counts (the input was key-partitioned), so
                # the routed build keeps the exact total
                dk_total = (sum(r["distinct_keys"] or 0 for r in mrows)
                            if count_keys else None)
                return _sharded_from_hash_partials(
                    parts, est, _choose_num_shards(est), tags_per_bucket,
                    bits_per_item, table_type, headroom, unique, hash_fn,
                    output_path=shard_output_path, distinct_total=dk_total)
            rows = parts.collect()
        finally:
            parts.unpersist()
    else:
        rows = parts.collect()  # one small row per partition (pairs/metrics)
    rows.sort(key=lambda r: r["partition_id"])  # deterministic combine order

    metrics = [
        {k: r[k] for k in ("partition_id", "rows", "stored", "distinct_keys",
                           "kicks", "victim_used", "load_factor", "wall_ms")}
        for r in rows
    ]
    blobs = [bytes(r["blob"]) for r in rows if r["rows"] > 0]
    if deferred:
        h = (np.concatenate([unpack_hashes(b) for b in blobs]) if blobs
             else np.zeros(0, dtype=np.uint64))
        if unique and len(h):
            h = np.unique(h)
        params = CuckooParams.for_capacity(
            max(int(len(h) * headroom), 64), tags_per_bucket,
            bits_per_item, table_type)  # dispatches vacuum sizing
        bi, tags = params.split(h)
    else:
        pairs = [unpack_pairs(b) for b in blobs]
        bi = np.concatenate([p[0] for p in pairs] or [np.zeros(0, np.int64)])
        tags = np.concatenate([p[1] for p in pairs]
                              or [np.zeros(0, np.uint32)])
    merged = CuckooKernel(params)
    merged.insert_pairs(bi, tags, dedupe=unique)
    return CuckooBuild(params=params, blob=merged.to_bytes(), metrics=metrics,
                       hash_fn=hash_fn)
