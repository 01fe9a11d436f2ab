"""Streaming approximate dedup — applyInPandasWithState with a cuckoo
filter blob as the group state (SURVEY.md §2.2 streaming row).

Rows are grouped by a stable hash-shard of the key; each shard's state
is a serialized cuckoo filter. A micro-batch probes + AddUniques its
keys against the shard filter and emits only first-seen rows. False
positives (≈ 2b/2^f) drop at most that fraction of genuinely-new rows
— the classic sketch-dedup trade documented in the reference's
AddUnique (cuckoofilter.go:144-149).

State is the reference §1.5 blob, so a batch job can decode, merge, or
inspect the accumulated streaming state with the same kernel (keys
hash with ``hashing.present_hashes``, as in ``CuckooKernel.contain``).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cuckoo_filter_spark.hashing import present_hashes
from cuckoo_filter_spark.kernel.filter import CuckooKernel
from cuckoo_filter_spark.params import CuckooParams


def streaming_dedup(
    stream_df: DataFrame,
    key_col: str,
    num_shards: int = 16,
    shard_capacity: int = 1 << 20,
    bits_per_item: int = 16,
    output_mode: str = "append",
    on_overflow: str = "passthrough",
) -> DataFrame:
    """stream → stream of first-seen rows (approximate distinct).

    Adds a __shard column (JVM hash, stable across restarts), groups by
    it, and keeps one cuckoo-filter blob per shard in GroupState.

    on_overflow — what happens once a shard's filter saturates (victim
    cache occupied; AddUnique then rejects every new key, which would
    otherwise silently DROP all further first-seen rows in that shard):
    * 'passthrough' (default) — degrade to at-least-once: already-seen
      keys still drop (the full filter probes fine), genuinely-new keys
      are emitted but can no longer be recorded, so a later duplicate of
      one may be re-emitted. No data loss.
    * 'rotate' — reset the shard filter (new epoch): dedup memory is
      windowed to ~shard_capacity keys per epoch; duplicates spanning a
      rotation re-emit. Bounded state, no data loss.
    * 'error' — fail the query loud (size shards up instead).

    Null-key (and NaN-key) rows are DROPPED (no dedup identity — same
    null exclusion as the batch builds): a string NULL would otherwise
    hash identically to '' (Arrow zero-length view), silently deduping
    NULL against the empty string. Pre-split null-key rows upstream if
    you need them.
    """
    if on_overflow not in ("passthrough", "rotate", "error"):
        raise ValueError(f"unknown on_overflow {on_overflow!r}")
    stream_df = stream_df.where(F.col(key_col).isNotNull())
    params = CuckooParams.for_capacity(shard_capacity, 4, bits_per_item, 0)
    in_schema = stream_df.schema
    out_schema = stream_df.schema
    state_schema = "blob binary"

    cols = [f.name for f in in_schema.fields]

    def dedup_fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (blob,) = state.get
            kern = CuckooKernel.from_bytes(bytes(blob))
        else:
            kern = CuckooKernel(params)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            if kern.victim_used and on_overflow == "rotate":
                kern = CuckooKernel(params)  # new dedup epoch
            # hash ONCE per batch: the saturated fallback below re-probes
            # with the same fingerprints (rotation keeps params, so they
            # stay valid across an epoch switch)
            present, h = present_hashes(pdf[key_col])
            idx, tag = kern.params.split(h)
            fresh = kern.add_unique_hashed(idx, tag)
            if kern.victim_used:
                if on_overflow == "error":
                    raise RuntimeError(
                        f"streaming dedup shard {key} overflowed "
                        f"shard_capacity={shard_capacity}; raise capacity "
                        f"or num_shards, or use on_overflow='passthrough'")
                # saturated: add_unique rejects keys it could not store —
                # emit the genuinely-new ones anyway (at-least-once)
                fresh = fresh | ~kern.contain_hashed(idx, tag)
            out = pdf.loc[present, cols][fresh]
            if len(out):
                yield out
        state.update((bytearray(kern.to_bytes()),))

    shards = stream_df.withColumn(
        "__shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_shards))
    )
    return (
        shards.groupBy("__shard")
        .applyInPandasWithState(
            dedup_fn, out_schema, state_schema, output_mode,
            GroupStateTimeout.NoTimeout,
        )
    )
