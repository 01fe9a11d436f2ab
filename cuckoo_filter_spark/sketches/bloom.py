"""Bloom filter — mergeable bit-array sketch on the shared update path.

Classic Bloom with double hashing (Kirsch–Mitzenmacher): position_i =
(h1 + i·h2) mod m, with h1/h2 the two 32-bit halves of the shared
metro64(key, 1337) hash — the same single hash evaluation the cuckoo
filter uses, so the Arrow-batch path is identical. Merge = bitwise OR
(associative, commutative, idempotent). No false negatives.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pyarrow as pa

from cuckoo_filter_spark.hashing import present_hashes

_MAGIC = b"BLM1"


class BloomSketch:
    """m-bit Bloom filter (m a power of two), k probes."""

    def __init__(self, capacity: int = 0, fpp: float = 0.01,
                 n_bits: int | None = None, n_hashes: int | None = None):
        if n_bits is not None and n_hashes is None and capacity <= 0:
            # k = m/n·ln2 with the default capacity=0 would compute
            # ~0.69·n_bits hash probes — a filter that saturates to
            # all-positive after a handful of keys while doing 10^5+
            # position computations per probe; fail loud instead
            raise ValueError(
                "BloomSketch(n_bits=...) needs capacity or n_hashes to "
                "size the probe count")
        if n_bits is None:
            ideal = max(64, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))
            n_bits = 1 << (ideal - 1).bit_length()
        if n_bits & (n_bits - 1):
            raise ValueError("n_bits must be a power of two")
        if n_hashes is None:
            n_hashes = max(1, round(n_bits / max(capacity, 1) * math.log(2)))
        self.n_bits = n_bits
        self.n_hashes = int(n_hashes)
        self.bits = np.zeros(n_bits >> 3, dtype=np.uint8)
        self.n_items = 0  # update count (not distinct)

    # -- shared Arrow-batch update path --
    def update(self, items) -> None:
        """Add the present keys of ``items`` (NULL/NaN keys are never
        stored: the key rule of the Bloom UDF and the build partials)."""
        _, h = present_hashes(items)
        if len(h):
            self.update_hashed(h)

    def _positions(self, h: np.ndarray) -> np.ndarray:
        h1 = (h >> np.uint64(32)).astype(np.uint64)
        h2 = (h & np.uint64(0xFFFFFFFF)).astype(np.uint64) | np.uint64(1)  # odd → full cycle
        i = np.arange(self.n_hashes, dtype=np.uint64)[:, None]
        return (h1 + i * h2) & np.uint64(self.n_bits - 1)  # [k, n]

    def update_hashed(self, h: np.ndarray) -> None:
        pos = self._positions(h).reshape(-1)
        np.bitwise_or.at(self.bits, (pos >> np.uint64(3)).astype(np.int64),
                         np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
        self.n_items += len(h)

    def contains(self, items) -> np.ndarray:
        """Membership flags of ``items``; a NULL/NaN key answers False."""
        present, h = present_hashes(items)
        out = np.zeros(len(present), dtype=bool)
        out[present] = self.contains_hashed(h)
        return out

    def contains_hashed(self, h: np.ndarray) -> np.ndarray:
        pos = self._positions(h)  # [k, n]
        byte = self.bits[(pos >> np.uint64(3)).astype(np.int64)]
        bit = (byte >> (pos & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
        return bit.all(axis=0).astype(bool)

    def merge(self, other: "BloomSketch") -> "BloomSketch":
        if (self.n_bits, self.n_hashes) != (other.n_bits, other.n_hashes):
            raise ValueError("bloom param mismatch")
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        self.n_items += other.n_items
        return self

    def fill_ratio(self) -> float:
        return float(np.unpackbits(self.bits).mean())

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack("<QIQ", self.n_bits, self.n_hashes, self.n_items)
        return head + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomSketch":
        assert data[:4] == _MAGIC
        n_bits, n_hashes, n_items = struct.unpack_from("<QIQ", data, 4)
        out = cls(n_bits=n_bits, n_hashes=n_hashes)
        out.bits = np.frombuffer(data[24:], dtype=np.uint8).copy()
        out.n_items = n_items
        return out


_BLOOM_CACHE: dict[int, "BloomSketch"] = {}


def bloom_might_contain_udf(spark, sketch: "BloomSketch | bytes"):
    """Broadcast Bloom membership predicate: ``f(col) -> boolean
    Column`` (no false negatives ⇒ safe semi-join pruning, same
    prune-then-verify pattern as the cuckoo ``might_contain_udf``).
    An Arrow UDF with the cuckoo probes' key step
    (``hashing.present_hashes``): missing (NULL/NaN) keys answer False.
    The decoded sketch is cached per executor process."""
    from pyspark.sql.functions import arrow_udf

    blob = sketch.to_bytes() if isinstance(sketch, BloomSketch) else sketch
    bcast = spark.sparkContext.broadcast(blob)
    bid = bcast._jbroadcast.id()

    @arrow_udf("boolean")
    def probe(keys: pa.Array) -> pa.Array:
        sk = _BLOOM_CACHE.get(bid)
        if sk is None:
            if len(_BLOOM_CACHE) > 64:
                _BLOOM_CACHE.clear()
            sk = BloomSketch.from_bytes(bytes(bcast.value))
            _BLOOM_CACHE[bid] = sk
        present, h = present_hashes(keys)
        out = np.zeros(len(present), dtype=bool)
        out[present] = sk.contains_hashed(h)
        return pa.array(out)

    return probe


#: Refuse single-filter Bloom builds whose geometry exceeds this many
#: bits (VERDICT r6 #2). n_bits is not just the result size — it is the
#: size of EVERY per-partition partial, so a capacity-10^9 build at
#: fpp=0.01 would make each scan task emit a ~1.2 GB blob and ship
#: num_partitions × that through the combine. 2^31 bits = 256 MiB per
#: blob keeps partials trivially collectable; beyond it, shard the
#: keyspace (one bounded BloomSketch per shard via capacity_hint) or
#: use the sharded cuckoo build (operators.sharded.
#: build_sharded_cuckoo_filter), whose per-shard blobs stay ~2.1 B/key
#: and are combined/persisted by executors.
BLOOM_MAX_PARTIAL_BITS = 1 << 31


def _check_bloom_geometry(capacity: int, fpp: float,
                          max_partial_bits: int) -> None:
    # arithmetic ONLY (the BloomSketch sizing formula, never an
    # allocation): instantiating a sketch just to read n_bits would
    # attempt the full bit-array malloc — for the absurd capacities
    # this guard exists to reject, that is a MemoryError before the
    # intended ValueError
    cap = max(capacity, 64)
    ideal = max(64, int(-cap * math.log(fpp) / (math.log(2) ** 2)))
    n_bits = 1 << (ideal - 1).bit_length()
    if n_bits > max_partial_bits:
        raise ValueError(
            f"build_bloom_deferred: capacity {capacity} at fpp={fpp} needs "
            f"a {n_bits >> 23} MiB filter, and every per-partition "
            f"PARTIAL is that same size (num_partitions x blob through the "
            f"combine) — above max_partial_bits={max_partial_bits} bits "
            f"({max_partial_bits >> 23} MiB). Shard the keyspace (one "
            f"bounded BloomSketch per shard, capacity_hint per shard) or "
            f"use operators.sharded.build_sharded_cuckoo_filter, whose "
            f"per-shard blobs stay ~2.1 B/key and never transit the driver")


def build_bloom_deferred(df, key_col: str, fpp: float = 0.01,
                         capacity_hint: int | None = None,
                         max_partial_bits: int = BLOOM_MAX_PARTIAL_BITS):
    """Distributed Bloom build with DEFERRED sizing — no capacity
    ``count()`` scan of the build side (VERDICT r4 #4; the cuckoo
    deferred-sizing pattern, operators/build.py).

    A Bloom's geometry (n_bits, n_hashes) must be fixed before any
    insert and must match across partials for the OR-merge, so sizing
    genuinely needs the count first. Instead of scanning the source
    twice, the ONE source scan emits each key's metro64 hash (the same
    single hash evaluation every insert needs anyway); the slim 8 B/row
    hash frame is localCheckpointed, its count sizes the filter, and
    the partial blooms are built FROM THE CHECKPOINT via update_hashed
    — the source is never rescanned. With ``capacity_hint`` (pipeline
    knowledge; an upper bound is fine, extra bits only lower the FP
    rate) even the hash checkpoint is skipped and the classic one-pass
    ``build_sketch`` path runs.

    Returns (BloomSketch, metrics) like ``build_sketch``. Geometry is
    bounded by ``max_partial_bits`` — see BLOOM_MAX_PARTIAL_BITS.
    """
    from cuckoo_filter_spark.sketches.base import build_sketch

    if capacity_hint is not None:
        _check_bloom_geometry(capacity_hint, fpp, max_partial_bits)
        return build_sketch(
            df, key_col,
            lambda: BloomSketch(capacity=max(capacity_hint, 64), fpp=fpp))

    def hasher(batches):
        for batch in batches:
            # same NULL exclusion and key identity as the keys partial
            _, h = present_hashes(batch.column(0))
            if len(h):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(h.view(np.int64))], names=["h"])

    hashed = df.select(key_col).mapInArrow(hasher, "h bigint").localCheckpoint(
        eager=False)  # lazy: the count below materializes it (one job,
    # not checkpoint-job + count-job); the partial pass reads the blocks
    n = hashed.count()  # materializes + counts the checkpoint, not the source
    _check_bloom_geometry(n, fpp, max_partial_bits)
    return build_sketch(
        hashed, "h", lambda: BloomSketch(capacity=max(n, 64), fpp=fpp),
        "hashed")
