"""Scale-adaptive input partitioning under ONE size bound, both ways.

The optimizer's size estimate of a frame (``plan_size_bytes``) decides
whether its partitioning may be changed at all: only an input of at
most ``DEFAULT_SPREAD_MAX_BYTES`` (512 MiB; ``spread_small_input``'s
``max_bytes`` default, read by ``coalesce_small_input`` at call time)
is ever touched. Above the bound — any real corpus — both helpers return ``df``
unchanged: the plan is identical to never calling them. Below it they
fit the partition count to the session's slots (guide §2.5: derive
partitioning from the input, never from a constant tuned to one
cluster size), in opposite directions.

**Spread (too few partitions).** Local/bench parquet inputs are often
ONE file with ONE row group — Spark cannot split such a scan, so every
map-side stage downstream of it (fingerprint hashing, regex
projections, n-gram explodes, signature UDFs) runs in a SINGLE task no
matter how many cores the session has. At production scale the same
tables arrive as thousands of files and the scan parallelizes
naturally, so an unconditional ``repartition`` would add a full corpus
shuffle exactly where the 100 TB plan must not have one (optimization
guide §2.4: remove shuffles outright; the map-side shapes pinned in
PLANS.md exist to keep text bodies out of Exchanges).
``spread_small_input`` round-robin repartitions the frame to the
session parallelism ONLY when it is under the bound AND arrives in
fewer partitions than the session has slots (the single-row-group
regime). Round-robin repartition is retry-deterministic (Spark sorts
before round-robin partitioning, SPARK-23207), so double-consumer plans
(cuckoo_anti_join's bypass/verify split, dedup's multi-branch reads)
stay consistent across re-executions.

``materialize=True`` additionally ``localCheckpoint``s the spread
frame — for inputs consumed by many branches (planted batches feeding
three near-dup algorithms) where recomputing the scan per branch costs
more than holding the (by construction tiny) frame in block storage.
It only applies when the spread fired: at scale the
re-read-pruned-parquet-vs-materialize trade keeps favoring the re-read
(the cuckoo_anti_join contract), and this helper never changes that.

**Coalesce (too many partitions).** Every Python task costs a fixed
~47 ms of core time whatever its size, so a tiny input sliced into
hundreds of partitions spends most of a sketch partial on task
overhead (and ships one partial blob per slice: a 1 MiB Bloom partial
per 2,000-row slice). ``coalesce_small_input`` narrows such a frame to
the session parallelism with ``DataFrame.coalesce`` — no Exchange, the
upstream stage simply runs inside fewer tasks — ONLY when it arrives in
MORE partitions than the session has slots AND is under the bound. The
partition count is read first; the optimizer estimate is asked for only
when the input is over-partitioned, so an input at or below the
parallelism sees no change to its plan or its driver work.
``sketches.base.sketch_partials`` applies it. Merge-law sketches (HLL,
theta, Bloom, count-min) are byte-identical either way. The coalesce
grouping is fixed once per job, so task retries are byte-identical
too; inputs without locality (ranges, object-store files) group into
contiguous partition ranges. On a cluster, a cached input whose block
locations move between runs can regroup, and then the order-sensitive
KLL, t-digest and MG bytes — never their error bounds — may differ from
run to run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Inputs whose optimizer size estimate exceeds this are NEVER touched
#: (by either helper).
DEFAULT_SPREAD_MAX_BYTES = 512 * 1024 * 1024


def plan_size_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate for ``df`` (bytes), or None when
    unavailable. Driver-side only — no job runs."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))
    except Exception:
        return None


def spread_small_input(
    df: DataFrame,
    max_bytes: int = DEFAULT_SPREAD_MAX_BYTES,
    target: int | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Round-robin repartition ``df`` to the session parallelism when it
    is provably tiny AND under-partitioned; exact no-op otherwise.

    See the module docstring for the policy. Results are unchanged for
    any partitioning-independent computation (all library operators are
    — aggregations, joins, per-row projections/UDFs, hash builds with
    global dedupe); callers with partition-SENSITIVE estimators (e.g.
    t-digest ordering effects) should not spread their inputs.
    """
    target = target or df.sparkSession.sparkContext.defaultParallelism
    est = plan_size_bytes(df)
    if est is None or est > max_bytes:
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    out = df.repartition(target)
    if materialize:
        # lazy: the checkpoint materializes inside the first consuming
        # action (all consumers share the checkpointed RDD — the input
        # is still computed exactly once) instead of a blocking pre-job
        out = out.localCheckpoint(eager=False)
    return out


def coalesce_small_input(df: DataFrame) -> DataFrame:
    """``df.coalesce`` to the session parallelism when ``df`` arrives in
    more partitions than the session has slots AND its size estimate is
    at most ``DEFAULT_SPREAD_MAX_BYTES``; ``df`` itself otherwise (also
    when no estimate is available). See the module docstring."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() <= target:
        return df
    est = plan_size_bytes(df)
    if est is None or est > DEFAULT_SPREAD_MAX_BYTES:
        return df
    return df.coalesce(target)
