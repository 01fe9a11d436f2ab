"""Membership queries over built filters (SURVEY.md §2.2, §3 query path).

``might_contain`` is the Contain predicate (cuckoofilter.go:178-188) as a
vectorized Arrow UDF over a broadcast blob: per Arrow batch the present
keys are hashed once (``hashing.present_hashes``, no pandas) and the
bucket probes are numpy batch ops; the probe view of each blob is cached
per executor process so each task pays decode cost at most once per
blob. A single filter, a sharded filter and the per-group filters
(``operators.grouped``) share that key step and that cache.

Join patterns (no false negatives ⇒ safe pruning):

* semi join: ``probe.where(might_contain(key))`` keeps all true matches;
  with ``exact=True`` a verification ``left_semi`` join removes the
  ~2b/2^f false positives. At scale the filter prunes the probe side
  BEFORE the shuffle, which is the entire point: only candidate rows are
  hashed/exchanged, and Catalyst/AQE still picks broadcast-hash vs
  sort-merge for the residual join.
* anti join: the raw filter CANNOT prune an anti join directly (a false
  positive would drop a valid row) — but its complement can: rows NOT in
  the filter are definitely non-members and skip the shuffle entirely;
  only maybe-member rows go through the exact ``left_anti``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import arrow_udf

from cuckoo_filter_spark.hashing import present_hashes
from cuckoo_filter_spark.kernel.filter import CuckooProbe
from cuckoo_filter_spark.operators.build import CuckooBuild

# per-executor probe cache: (broadcast id, route) → CuckooProbe, the
# route being the shard (0 for a single filter) or the group — a
# zero-copy view of the broadcast blob for byte-aligned layouts, no
# unpacked second copy
_PROBE_CACHE: dict[tuple, CuckooProbe] = {}


def cached_probe(bid: int, route, blob: bytes) -> CuckooProbe:
    """This executor's probe view of ``blob``, the filter of ``route``
    in broadcast ``bid``."""
    key = (bid, route)
    kern = _PROBE_CACHE.get(key)
    if kern is None:
        if len(_PROBE_CACHE) > 256:  # bound executor memory across builds
            _PROBE_CACHE.clear()
        kern = CuckooProbe(blob)
        _PROBE_CACHE[key] = kern
    return kern


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def probe_input(hash_fn: str):
    """(column → probe column, prehashed) for a ``hash_fn`` build — the
    one place a probe branches on hash_fn. A metro64 probe reads the key
    and hashes it in the UDF; an xxhash64 probe reads the JVM hash of
    each non-NULL key, and a NULL stays NULL (``F.xxhash64(NULL)`` is
    the seed 42, a phantom member — ``build.key_column``'s rule)."""
    if hash_fn == "metro64":
        return _col, False
    if hash_fn == "xxhash64":
        return (lambda c: F.when(_col(c).isNotNull(), F.xxhash64(_col(c))),
                True)
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def key_hash_udf(hash_fn: str):
    """``f(col) -> bigint Column``: the 64-bit hash of each present key
    of a ``hash_fn`` build, NULL for a missing key — the routing and
    probe input of the cogroup probes and the sharded delete."""
    to_col, prehashed = probe_input(hash_fn)

    @arrow_udf("bigint")
    def key_hash(keys: pa.Array) -> pa.Array:
        present, h = present_hashes(keys, prehashed)
        out = np.zeros(len(present), dtype=np.int64)
        out[present] = h.view(np.int64)
        return pa.array(out, mask=~present)

    return lambda col: key_hash(to_col(col))


def might_contain_udf(spark, build: "CuckooBuild | bytes"):
    """Returns ``f(col) -> boolean Column`` probing the filter with the
    same hash_fn the build used (raw blob bytes are taken as metro64).
    For xxhash64 builds the hash runs JVM-side (whole-stage codegen) and
    the UDF only splits/probes. Missing (NULL/NaN) keys answer False.

    Accepts a ShardedCuckooBuild too (what build_cuckoo_filter returns
    when the key count crosses its auto-shard threshold): probes then
    route by shard inside the UDF, same call shape. A single filter is
    the one-shard case, ``{0: blob}``. For metro64 the result is the
    Arrow UDF itself, so it registers as a SQL function."""
    from cuckoo_filter_spark.operators.sharded import (
        ShardedCuckooBuild,
        _probe_sharded,
    )

    if isinstance(build, ShardedCuckooBuild):
        blobs = build.load_blobs(spark) if build.path else build.blobs
        num_shards = build.num_shards
    else:
        blobs = {0: build.blob if isinstance(build, CuckooBuild) else build}
        num_shards = 1
    to_col, prehashed = probe_input(getattr(build, "hash_fn", "metro64"))
    bcast = spark.sparkContext.broadcast(blobs)
    bid = bcast._jbroadcast.id()  # capture on driver; keys the executor cache

    @arrow_udf("boolean")
    def might_contain(keys: pa.Array) -> pa.Array:
        present, h = present_hashes(keys, prehashed)
        out = np.zeros(len(present), dtype=bool)
        out[present] = _probe_sharded(h, bcast.value, num_shards, bid)
        return pa.array(out)

    if prehashed:
        return lambda col: might_contain(to_col(col))
    return might_contain


def register_might_contain(spark, name: str, build: "CuckooBuild | bytes") -> None:
    """Register the membership predicate as a SQL function, so pure-SQL
    pipelines can use it: ``SELECT * FROM t WHERE <name>(url)``.
    Accepts a ShardedCuckooBuild (what build_cuckoo_filter returns past
    its auto-shard threshold) the same way."""
    if getattr(build, "hash_fn", "metro64") != "metro64":
        raise ValueError("SQL registration supports metro64 builds "
                         "(xxhash64 probes compose a JVM expression)")
    spark.udf.register(name, might_contain_udf(spark, build))


def cuckoo_semi_join(
    probe: DataFrame,
    probe_key: str,
    build_df: DataFrame,
    build_key: str,
    exact: bool = True,
    build: "CuckooBuild | ShardedCuckooBuild | None" = None,
    **build_kwargs,
) -> DataFrame:
    """probe ⋉ build_df with cuckoo pre-pruning.

    exact=True (default): verification left_semi join restores exactness
    (the filter has no false negatives, so pre-pruning never drops a true
    match). exact=False returns the approximate superset (FP ≈ 2b/2^f).
    """
    from cuckoo_filter_spark.operators.build import build_cuckoo_filter

    spark = probe.sparkSession
    if build is None:
        build = build_cuckoo_filter(build_df, build_key, **build_kwargs)
    mc = might_contain_udf(spark, build)
    pruned = probe.where(mc(F.col(probe_key)))
    if not exact:
        return pruned
    rhs = build_df.select(build_key).dropDuplicates([build_key])
    return pruned.join(rhs, on=pruned[probe_key] == rhs[build_key], how="left_semi")


def cuckoo_anti_join(
    probe: DataFrame,
    probe_key: str,
    build_df: DataFrame,
    build_key: str,
    build: "CuckooBuild | ShardedCuckooBuild | None" = None,
    materialize_probe: bool = False,
    **build_kwargs,
) -> DataFrame:
    """Exact probe ▷ build_df (anti join) with safe cuckoo acceleration:
    definite non-members bypass the join; only maybe-members (filter
    hits) are verified with an exact left_anti.

    Execution shape: the bypass and the verify branch are two consumers
    of the flagged probe frame, so the probe plan (scan + probe UDF)
    executes TWICE — the deliberate trade at scale, where re-reading
    pruned columnar parquet is far cheaper than materializing 10^12
    flagged rows just to split them. Two consequences: (1) the probe
    plan must be DETERMINISTIC under re-execution (true for any
    source/filter pipeline; not for unseeded sample()/rand() inputs —
    the standard Spark union-of-filters contract), or rows can land in
    both branches or neither; (2) when the probe side is itself an
    expensive non-reusable computation, pass ``materialize_probe=True``
    to localCheckpoint the flagged frame once instead (bounded inputs
    only — it writes the whole frame to executor disk)."""
    from cuckoo_filter_spark.operators.build import build_cuckoo_filter

    spark = probe.sparkSession
    if build is None:
        build = build_cuckoo_filter(build_df, build_key, **build_kwargs)
    mc = might_contain_udf(spark, build)
    flagged = probe.withColumn("__maybe_member", mc(F.col(probe_key)))
    if materialize_probe:
        flagged = flagged.localCheckpoint()
    definite_out = flagged.where(~F.col("__maybe_member")).drop("__maybe_member")
    maybe = flagged.where(F.col("__maybe_member")).drop("__maybe_member")
    rhs = build_df.select(build_key).dropDuplicates([build_key])
    verified_out = maybe.join(
        rhs, on=maybe[probe_key] == rhs[build_key], how="left_anti"
    )
    return definite_out.unionByName(verified_out)
