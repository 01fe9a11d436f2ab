"""Checkpoint-resumable distributed build (SURVEY.md §7 M5; north_rule
"resumable from checkpoint with per-partition lineage + metrics").

The sharded build is a pure function of (input snapshot, params,
num_shards): pair emission (``sharded.sharded_pairs``, the same
mapInArrow key partial every cuckoo build runs) is deterministic per
partition and the combine order is sorted by source partition, so a
shard blob is reproducible bit-for-bit. The checkpointed build
therefore persists one parquet row per shard keyed by (build_id,
shard); resume = compute only the shards missing from the checkpoint
dir, then union.

Layout: <dir>/shards/part-*.parquet rows (shard, rows, stored, kicks,
victim_used, load_factor, wall_ms, blob) + <dir>/_build_manifest.json
(params, num_shards, input fingerprint).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict

from cuckoo_filter_spark.operators.sharded import (
    SHARD_FORMAT_VERSION,
    SHARD_METRICS,
    ShardedCuckooBuild,
    check_shard_format,
    combine_shards,
    shard_geometry,
    sharded_pairs,
)


def _manifest_path(d: str) -> str:
    return os.path.join(d, "_build_manifest.json")


def _input_fingerprint(df, key_col: str) -> str:
    """Cheap deterministic fingerprint of the build input — NO data scan.

    sha256 over (key column type, the analyzed plan's semantic hash,
    the sorted input file list). Catches the dangerous resume-mixing
    cases: a different source path, a changed filter/projection, or a
    refreshed file-based dataset (new/removed part files). NOT caught:
    a file overwritten in place under the same name — at scale input
    snapshots should be immutable paths; callers who rewrite in place
    must pass an explicit ``input_fingerprint`` (e.g. a dataset version
    id) instead."""
    import hashlib

    h = hashlib.sha256()
    h.update(df.schema[key_col].dataType.simpleString().encode())
    try:
        h.update(str(df.semanticHash()).encode())
    except Exception:
        # plan hash unavailable (exotic plan/connect mode): the file
        # list below still guards the refreshed-dataset case
        pass
    for f in sorted(df.inputFiles()):
        h.update(f.encode())
    return h.hexdigest()[:16]


def _shards_dir(d: str) -> str:
    return os.path.join(d, "shards")


def build_checkpointed(
    df,
    key_col: str,
    checkpoint_dir: str,
    capacity: int | None = None,
    num_shards: int = 32,
    tags_per_bucket: int = 4,
    bits_per_item: int = 16,
    table_type: int = 0,
    mode: str = "unique_local",
    headroom: float = 1.15,
    input_fingerprint: str | None = None,
) -> ShardedCuckooBuild:
    """Build with shard-level checkpointing: already-completed shards are
    skipped; only missing shards are recomputed. Kill-and-rerun yields a
    bit-identical final filter (deterministic pair emission + sorted
    combine order + seeded eviction).

    The manifest embeds an input fingerprint (``_input_fingerprint``) so
    resuming against a DIFFERENT input fails loud instead of silently
    mixing shards from two datasets (false negatives from a structure
    whose contract is "no false negatives"). Pass ``input_fingerprint``
    explicitly when the derived one is unsuitable (in-place rewritten
    paths, non-file sources).

    mode='unique_global' keeps its counting contract here too: the input
    is repartition(key)-co-located, per-shard exact distinct counts
    persist in the shard rows (so they survive kill-and-resume), and the
    returned build carries their sum in ``distinct_keys``."""
    from pyspark.sql import functions as F

    # the manifest + done-shard detection are LOCAL-filesystem (os.*)
    # while Spark would happily write shards to a remote URI — every
    # resume would then see an empty local dir, recompute ALL shards and
    # append duplicates next to the existing remote rows. This guard
    # used to live only in the scripts/build_job.py CLI; the library
    # call needs it just as much.
    if "://" in checkpoint_dir:
        raise ValueError(
            f"checkpoint_dir {checkpoint_dir!r} is a remote URI: the "
            "manifest/done-shard bookkeeping is local-filesystem only — "
            "use a local (or locally-mounted shared) path")

    spark = df.sparkSession
    capacity, params = shard_geometry(
        df, key_col, capacity, num_shards, tags_per_bucket, bits_per_item,
        table_type, mode, headroom)
    manifest = {
        "params": asdict(params),
        "num_shards": num_shards,
        "mode": mode,
        "capacity": int(capacity),
        "key_col": key_col,
        "input_fingerprint": input_fingerprint
        or _input_fingerprint(df, key_col),
        # ADVICE r4: a pre-r5 checkpoint's shards were routed/probed
        # under different semantics — the manifest mismatch below fails
        # the resume loud instead of silently mixing formats
        "format_version": SHARD_FORMAT_VERSION,
    }

    os.makedirs(checkpoint_dir, exist_ok=True)
    mp = _manifest_path(checkpoint_dir)
    if os.path.exists(mp):
        existing = json.loads(open(mp).read())
        if existing != manifest:
            raise ValueError(
                f"checkpoint dir {checkpoint_dir} holds a different build: "
                f"{existing} vs {manifest}"
            )
    else:
        with open(mp, "w") as f:
            json.dump(manifest, f)

    sdir = _shards_dir(checkpoint_dir)
    done: set[int] = set()
    if os.path.exists(sdir):
        try:
            done = {
                int(r["shard"])
                for r in spark.read.parquet(sdir).select("shard").collect()
            }
        except Exception as e:
            # ONLY an empty/committed-nothing dir may mean "fresh":
            # treating a transient read failure as fresh would recompute
            # and APPEND every shard next to the rows already on disk —
            # permanent duplicates (double metrics, cogroup probes raise
            # on dup blob rows). Fail loud on anything else.
            # closed scandir + temp/hidden entries ignored (ADVICE r6):
            # a crashed FIRST attempt can leave only Spark scratch
            # (_temporary, ._*-marker files) with nothing committed —
            # that is a fresh dir, not a corrupt resume; only real
            # committed entries make the unreadability fatal
            refusal = (
                f"checkpoint shards dir {sdir} is non-empty but "
                "unreadable — refusing to resume (recomputing would "
                "append duplicate shard rows); inspect or delete the "
                f"directory. Original error: {e!r}")
            # a dir that cannot even be listed cannot be shown empty
            try:
                with os.scandir(sdir) as it:
                    has_committed = any(
                        not e.name.startswith(("_", ".")) for e in it)
            except OSError as oe:
                raise RuntimeError(refusal) from oe
            if has_committed:
                raise RuntimeError(refusal) from e
            done = set()

    missing = sorted(set(range(num_shards)) - done)
    count_keys = mode == "unique_global"
    if missing:
        # unique_global keeps its counting contract (same as the
        # declared sharded route): sharded_pairs repartitions by key so
        # the partition-local raw-key dedupe is globally exact per
        # shard; per-shard counts persist in the shard rows, so they
        # stay exact across kill-and-resume. The hash partitioning is
        # deterministic, so bit-identical resume is preserved.
        pairs = sharded_pairs(df, key_col, params, num_shards, mode)
        # partition pruning of finished shards before the shuffle
        pairs = pairs.where(F.col("shard").isin([int(m) for m in missing]))
        combine_shards(pairs, params, mode != "multiset").write.mode(
            "append").parquet(sdir)

    sdf = spark.read.parquet(sdir)
    check_shard_format(sdf, "build_sharded_with_checkpoint")
    rows = sdf.drop("blob").collect()
    # distinct_keys is exact per shard under unique_global, else None
    metrics = [{k: r[k] for k in SHARD_METRICS} for r in rows]
    dk_total = (sum(m["distinct_keys"] or 0 for m in metrics)
                if count_keys else None)
    return ShardedCuckooBuild(
        params=params, num_shards=num_shards, blobs={}, metrics=metrics,
        path=sdir, distinct_keys=dk_total,
    )
