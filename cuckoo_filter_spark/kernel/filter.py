"""CuckooKernel — vectorized cuckoo-filter kernel (build plan M1).

Semantics re-derived from the reference (cuckoofilter.go): partial-key
cuckoo hashing with MetroHash64(seed 1337) fingerprints, alt-index
involution ``i ^ (tag * 0x5bd1e995)`` (cuckoofilter.go:105-108), 500-kick
bound with single victim stash (cuckoofilter.go:19, :151-175).

Execution model is NOT a translation of the Go code: filter state is an
unpacked ``uint32[num_buckets, tags_per_bucket]`` slot matrix and all
operations are numpy batch ops. Inserts are order-dependent (eviction),
so the batch insert runs a *frontier loop*: each round, every still-
homeless (index, tag) entry probes its current bucket; per-bucket free
slots are handed out by stable rank, at most one eviction per bucket per
round, and evicted tags rejoin the frontier at their alternate index.
Per-chain attempts are bounded at 500 like the reference; the first
exhausted chain is stashed in the victim cache, a second raises
:class:`FilterFullError`.

Documented deviation from the reference: eviction-slot choice is a
deterministic hash of (bucket, round, seed) instead of ``rand.Int31()``
(singletable.go:204, packedtable.go:425), so builds are reproducible and
checkpoint-resumable. Membership semantics are unaffected.

Serialization is byte-compatible with the reference layout (SURVEY.md
§1.5): blobs written here decode in the scalar oracle and vice versa.
"""

from __future__ import annotations

import struct

import numpy as np

from cuckoo_filter_spark.hashing import present_hashes
from cuckoo_filter_spark.kernel import bitpack
from cuckoo_filter_spark.params import (
    MAX_CUCKOO_KICKS,
    TABLE_PACKED,
    TABLE_SINGLE,
    TABLE_VACUUM,
    VACUUM_BLOB_VERSION,
    CuckooParams,
)

_MURMUR_C = np.uint32(0x5BD1E995)  # cuckoofilter.go:106


def _check_vacuum_version(ver: int) -> None:
    """Vacuum blobs carry a format version byte (see params.py
    VACUUM_BLOB_VERSION). Pre-versioning blobs have tags_per_bucket
    (2/4/8) at this position — disjoint from the 0xA0-marked version
    values, so stale artifacts land here instead of silently probing
    with the wrong alt-range rule."""
    if ver != VACUUM_BLOB_VERSION:
        raise ValueError(
            f"vacuum blob format byte 0x{ver:02X} != expected "
            f"0x{VACUUM_BLOB_VERSION:02X}: this blob was serialized by an "
            f"incompatible revision (pre-r5 blobs predate the r4 adaptive "
            f"alt-range clamp and would return silent false negatives). "
            f"Rebuild the filter.")


class FilterFullError(RuntimeError):
    """Raised when an insert chain exhausts and the victim cache is
    already occupied. Size builds with headroom (≤ max_load_factor)."""


def split_hash(h: np.ndarray, num_buckets: int, bits_per_item: int):
    """uint64 hashes → (index int64[:], tag uint32[:]).

    index = upper 32 bits & (nb−1); tag = lower 32 % (2^f − 1) + 1
    (cuckoofilter.go:89-103). POW2 LAYOUTS ONLY — a vacuum table's
    num_buckets is not a power of two and indexes by modulo; masking
    with nb−1 would return in-range but WRONG buckets with no error.
    Layout-generic callers use CuckooParams.split, which dispatches."""
    if num_buckets <= 0 or num_buckets & (num_buckets - 1):
        raise ValueError(
            f"split_hash is pow2-only (num_buckets={num_buckets}); use "
            f"CuckooParams.split for vacuum layouts")
    hi = (h >> np.uint64(32)).astype(np.uint32)
    lo = (h & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    idx = (hi & np.uint32(num_buckets - 1)).astype(np.int64)
    tag_mod = np.uint64((1 << bits_per_item) - 1) if bits_per_item < 32 else np.uint64(0xFFFFFFFF)
    tag = (lo % tag_mod + np.uint64(1)).astype(np.uint32)
    return idx, tag


def alt_index(idx: np.ndarray, tag: np.ndarray, num_buckets: int) -> np.ndarray:
    """Involution: altIndex(altIndex(i,t),t) == i (cuckoofilter.go:105-108).
    POW2 ONLY — see split_hash; vacuum layouts use CuckooParams.alt."""
    if num_buckets <= 0 or num_buckets & (num_buckets - 1):
        raise ValueError(
            f"alt_index is pow2-only (num_buckets={num_buckets}); use "
            f"CuckooParams.alt for vacuum layouts")
    v = idx.astype(np.uint32) ^ (tag.astype(np.uint32) * _MURMUR_C)
    return (v & np.uint32(num_buckets - 1)).astype(np.int64)


def _evict_choice(buckets: np.ndarray, round_no: int, seed: int, b: int) -> np.ndarray:
    """Deterministic per-(bucket, round) eviction slot in [0, b)."""
    x = buckets.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    x ^= np.uint64((round_no * 0xBF58476D1CE4E5B9 + seed) & 0xFFFFFFFFFFFFFFFF)
    x ^= x >> np.uint64(33)
    x *= np.uint64(0xFF51AFD7ED558CCD)
    x ^= x >> np.uint64(29)
    return (x % np.uint64(b)).astype(np.int64)


def _key_flags(params: CuckooParams, items, hashed_op) -> np.ndarray:
    """One flag per item of ``hashed_op(index, tag)`` over the present
    keys (``hashing.present_hashes``): the shape of every item-level
    entry point. A missing (NULL/NaN) key is never hashed and answers
    False (SQL IN semantics; nothing is stored under NULL)."""
    present, h = present_hashes(items)
    out = np.zeros(len(present), dtype=bool)
    if len(h):
        out[present] = hashed_op(*params.split(h))
    return out


class CuckooKernel:
    """Vectorized cuckoo filter over an unpacked slot matrix."""

    def __init__(self, params: CuckooParams, seed: int = 0x1337C0FFEE):
        self.params = params
        self.slots = np.zeros((params.num_buckets, params.tags_per_bucket), dtype=np.uint32)
        self.num_items = 0
        self.victim_index = 0
        self.victim_tag = 0
        self.victim_used = False
        self.seed = seed
        self.kicks = 0  # eviction count (lineage metric, not serialized)
        self._corrupt = False  # set when an exhaustion left slots mutated

    @classmethod
    def for_capacity(
        cls, max_num_keys: int, b: int = 4, f: int = 16, table_type: int = TABLE_SINGLE
    ) -> "CuckooKernel":
        return cls(CuckooParams.for_capacity(max_num_keys, b, f, table_type))

    # ------------------------------------------------------------------
    # hashing
    # ------------------------------------------------------------------
    def fingerprints(self, items) -> tuple[np.ndarray, np.ndarray]:
        """(index, tag) of the present keys of a batch, under the one key
        rule (``hashing.present_hashes``: NULL/NaN keys dropped, an
        integral float hashed as its int64)."""
        return self.params.split(present_hashes(items)[1])

    def _check_usable(self) -> None:
        if self._corrupt:
            raise FilterFullError(
                "kernel is poisoned: a prior insert exhausted its kick "
                "chain with slots already mutated (unsnapshot path) — "
                "discard this filter or reset() it")

    # ------------------------------------------------------------------
    # insert
    # ------------------------------------------------------------------
    def add(self, items) -> np.ndarray:
        """Batch insert; returns per-item success mask (False for NULL
        keys — excluded, never stored). Items after the victim cache
        fills are rejected like sequential Add (cuckoofilter.go:135-141)."""
        return _key_flags(self.params, items, self.add_hashed)

    def add_hashed(self, idx: np.ndarray, tag: np.ndarray) -> np.ndarray:
        """Sequential-equivalent batch Add: if the victim cache fills
        mid-batch, items whose chains had not yet displaced anything are
        rejected (False), exactly as sequential Add would reject them
        upfront after the stash (cuckoofilter.go:135-141). Chains already
        carrying an evicted tag must run to completion (dropping them
        would lose a previously stored item); if a second such chain
        exhausts, there is no sequential-order equivalent and the insert
        fails loud with FilterFullError."""
        self._check_usable()
        n = len(idx)
        if n == 0 or self.victim_used:
            return np.zeros(n, dtype=bool)
        return self._insert_frontier(idx.astype(np.int64), tag.astype(np.uint32))

    def add_unique(self, items) -> np.ndarray:
        """Batch AddUnique (cuckoofilter.go:144-149): skip keys already
        present (or duplicated within the batch); returns stored-new mask
        (False for NULL keys — excluded)."""
        return _key_flags(self.params, items, self.add_unique_hashed)

    def add_unique_hashed(self, idx: np.ndarray, tag: np.ndarray) -> np.ndarray:
        self._check_usable()
        n = len(idx)
        ok = np.zeros(n, dtype=bool)
        if n == 0 or self.victim_used:
            return ok
        present = self.contain_hashed(idx, tag)
        # first occurrence of each (idx, tag) within the batch
        key = idx.astype(np.uint64) << np.uint64(32) | tag.astype(np.uint64)
        _, first = np.unique(key, return_index=True)
        is_first = np.zeros(n, dtype=bool)
        is_first[first] = True
        todo = ~present & is_first
        ok[todo] = self._insert_frontier(
            idx[todo].astype(np.int64), tag[todo].astype(np.uint32))
        return ok

    def _insert_frontier(
        self, cur_i: np.ndarray, cur_t: np.ndarray, chunk: int = 1 << 17
    ) -> np.ndarray:
        """Frontier kick loop, fed in chunks (sequential-batch semantics;
        keeps each round's sort/group work cache-sized). Returns the
        per-item success mask; once the victim cache fills, later chunks
        are rejected wholesale (reference Add rejects after stash)."""
        ok = np.ones(len(cur_i), dtype=bool)
        cap = self.params.size_in_tags
        for s in range(0, len(cur_i), chunk):
            if self.victim_used:
                ok[s:] = False
                break
            ci, ct = cur_i[s:s + chunk], cur_t[s:s + chunk]
            # snapshot only when this chunk could plausibly exhaust a
            # 500-kick chain: an unconditional full-table copy per 128K-
            # item chunk would make large builds O(n²/chunk) in memcpy
            # bytes. For pow2 layouts the kick walk mixes globally, so
            # projected GLOBAL load > 75% is the trigger; the vacuum walk
            # is chunk-confined (one hot chunk can exhaust at low global
            # load), so vacuum always snapshots.
            plausible = (self.params.table_type == TABLE_VACUUM
                         or (self.num_items + len(ci)) > 0.75 * cap)
            snap = ((self.slots.copy(), self.num_items, self.kicks)
                    if plausible else None)
            try:
                ok[s:s + chunk] = self._insert_frontier_chunk(ci, ct)
            except FilterFullError:
                if snap is None:
                    # (astronomically unlikely below the threshold).
                    # Poison the kernel: slots are already mutated by the
                    # interleaved chains, so a caller that catches
                    # FilterFullError (e.g. a try/except add pattern)
                    # must not keep querying a corrupted filter.
                    self._corrupt = True
                    raise FilterFullError(
                        "kick chain exhausted below the snapshot "
                        "threshold; kernel state is inconsistent — "
                        "discard this filter") from None
                # saturation with interleaved kick chains the batch loop
                # cannot untangle: restore the chunk-start table and redo
                # sequentially (single chain in flight → reference
                # semantics, guaranteed stash-then-reject, never raises)
                self.slots, self.num_items, self.kicks = snap
                self.victim_used = False
                for j in range(len(ci)):
                    if self.victim_used:
                        ok[s + j:s + len(ci)] = False
                        break
                    ok[s + j] = self._insert_frontier_chunk(
                        ci[j:j + 1], ct[j:j + 1])[0]
        return ok

    def _insert_frontier_chunk(self, cur_i: np.ndarray, cur_t: np.ndarray) -> np.ndarray:
        """One frontier batch. Mutates slots/num_items/victim in place;
        returns the per-item success mask."""
        n = len(cur_i)
        ok = np.ones(n, dtype=bool)
        if n == 0:
            return ok
        cur_i = cur_i.copy()
        cur_t = cur_t.copy()
        attempts = np.zeros(n, dtype=np.int64)
        evicted = np.zeros(n, dtype=bool)  # chain has displaced a stored tag
        placed = np.zeros(n, dtype=bool)   # chain ended by placing its tag
        active = np.ones(n, dtype=bool)
        slots = self.slots
        b = self.params.tags_per_bucket
        nb = self.params.num_buckets
        round_no = 0
        while True:
            act = np.nonzero(active)[0]
            if act.size == 0:
                break
            bi = cur_i[act]
            # stable sort by bucket preserves original order within
            # groups; int32 keys halve the radix passes (num_buckets is
            # always < 2^31 — uint32 index space)
            srt = np.argsort(bi.astype(np.int32), kind="stable")
            s_items = act[srt]
            s_b = bi[srt]
            # group boundaries without a second sort
            newgrp = np.empty(len(s_b), dtype=bool)
            newgrp[0] = True
            np.not_equal(s_b[1:], s_b[:-1], out=newgrp[1:])
            start = np.flatnonzero(newgrp)
            uniq = s_b[start]
            gid = np.cumsum(newgrp) - 1
            rank = np.arange(len(s_b)) - start[gid]
            su_z = slots[uniq] == 0  # per-unique-bucket zero mask; the
            # free counts AND the placement slot search both read it —
            # one table gather per round instead of two (the second
            # slots[pb] gather re-missed the same cache lines)
            free = su_z.sum(axis=1, dtype=np.int64)
            free_g = free[gid]
            place = rank < free_g

            p_items = s_items[place]
            if p_items.size:
                pb = cur_i[p_items]
                prank = rank[place]
                z = su_z[gid[place]]  # == (slots[pb] == 0): slots are
                # untouched between the gather above and this placement
                c = np.cumsum(z, axis=1, dtype=np.int8)
                slot_j = np.argmax((c == (prank + 1)[:, None]) & z, axis=1)
                slots[pb, slot_j] = cur_t[p_items]
                self.num_items += int(p_items.size)
                active[p_items] = False
                placed[p_items] = True

            u_items = s_items[~place]
            if u_items.size:
                u_rank = rank[~place]
                u_free = free_g[~place]
                first_unplaced = u_rank == u_free
                fresh = attempts[u_items] == 0
                # fresh probes of a full bucket move to alt without kicking
                # (kickOut only when count>0 — cuckoofilter.go:159)
                movers = u_items[fresh]
                evict_cand = u_items[first_unplaced & ~fresh]
                # non-fresh, non-first entries wait a round (bucket already
                # claimed by this round's evictor)

                if movers.size:
                    cur_i[movers] = self.params.alt(cur_i[movers], cur_t[movers])
                    attempts[movers] += 1
                if evict_cand.size:
                    self.kicks += int(evict_cand.size)
                    eb = cur_i[evict_cand]
                    r = _evict_choice(eb, round_no, self.seed, b)
                    old = slots[eb, r].copy()
                    slots[eb, r] = cur_t[evict_cand]
                    cur_t[evict_cand] = old
                    cur_i[evict_cand] = self.params.alt(eb, old)
                    attempts[evict_cand] += 1
                    evicted[evict_cand] = True

                exhausted = np.nonzero(active & (attempts >= MAX_CUCKOO_KICKS))[0]
                for e in exhausted:
                    if not self.victim_used:
                        # stash; the original item counts as stored
                        # (cuckoofilter.go:171-174)
                        self.victim_index = int(cur_i[e])
                        self.victim_tag = int(cur_t[e])
                        self.victim_used = True
                        active[e] = False
                        # sequential equivalence: chains that have not
                        # displaced anything yet are "after the stash" in
                        # any valid ordering → rejected, table untouched
                        # by them. Chains carrying an evicted tag must
                        # finish (dropping one loses a stored item).
                        drop = active & ~evicted
                        ok[drop] = False
                        active[drop] = False
                    elif self._rollback_one(
                            e, cur_i, cur_t, ok, placed, evicted, nb, b):
                        # a same-batch pristine placement in one of the
                        # carrier's candidate buckets gave up its slot
                        # (that item is rejected instead — it would have
                        # been "after the stash" sequentially); the
                        # carried tag, which belongs to an already-stored
                        # item, is preserved.
                        active[e] = False
                    else:
                        raise FilterFullError(
                            f"insert chain exhausted {MAX_CUCKOO_KICKS} kicks with victim "
                            f"cache occupied (load={self.load_factor():.3f})"
                        )
            round_no += 1
        return ok

    def _rollback_one(self, e: int, cur_i, cur_t, ok, placed, evicted,
                      nb: int, b: int) -> bool:
        """Graceful saturation for a kick chain that exhausts AFTER the
        victim cache filled: its carried tag belongs to a stored item and
        must not be lost, so evict a tag that a never-evicted chain of
        THIS batch placed in one of the carrier's two candidate buckets,
        reject that chain's item (sequentially it would have been
        rejected post-stash anyway), and store the carried tag in the
        freed slot. Returns False only when neither candidate bucket
        holds a free slot or a same-batch pristine placement (then the
        insert genuinely cannot be represented — caller fails loud)."""
        slots = self.slots
        tag = np.uint32(cur_t[e])
        bi = int(cur_i[e])
        alt = int(self.params.alt(cur_i[e:e + 1], cur_t[e:e + 1])[0])
        for bucket in (bi, alt):
            for s in range(b):
                t = slots[bucket, s]
                if t == 0:  # a slot freed since the last probe round
                    slots[bucket, s] = tag
                    self.num_items += 1
                    return True
                cand = np.nonzero(placed & ~evicted & (cur_i == bucket)
                                  & (cur_t == t))[0]
                if cand.size:
                    j = int(cand[0])
                    ok[j] = False
                    placed[j] = False
                    slots[bucket, s] = tag  # one out, one in: num_items net 0
                    return True
        return False

    # ------------------------------------------------------------------
    # lookup
    # ------------------------------------------------------------------
    def contain(self, items) -> np.ndarray:
        return _key_flags(self.params, items, self.contain_hashed)

    def contain_hashed(self, idx: np.ndarray, tag: np.ndarray) -> np.ndarray:
        """Vectorized Contain (cuckoofilter.go:178-188)."""
        self._check_usable()
        if len(idx) == 0:
            return np.zeros(0, dtype=bool)
        i2 = self.params.alt(idx, tag)
        t = tag[:, None]
        found = (self.slots[idx] == t).any(axis=1) | (self.slots[i2] == t).any(axis=1)
        if self.victim_used:
            found |= (tag == np.uint32(self.victim_tag)) & (
                (idx == self.victim_index) | (i2 == self.victim_index)
            )
        return found

    # ------------------------------------------------------------------
    # delete
    # ------------------------------------------------------------------
    def delete(self, items) -> np.ndarray:
        return _key_flags(self.params, items, self.delete_hashed)

    def delete_hashed(self, idx: np.ndarray, tag: np.ndarray) -> np.ndarray:
        """Batch delete (cuckoofilter.go:191-213 semantics).

        Fast path (victim cache empty): fully vectorized — deletes are
        grouped by canonical (pair, tag); a group of m requests removes
        min(m, stored copies) copies, draining bucket i1's matches
        before i2's like the reference. Distinct canonical groups touch
        disjoint slots, so removal is a single scatter.

        With an occupied victim cache the reference interleaves victim
        re-insertion with deletes (order-dependent), so the sequential
        loop runs ONLY until the victim clears (usually the first
        successful delete re-inserts it, TryEliminateVictim,
        cuckoofilter.go:205-213) — the rest of the batch vectorizes."""
        self._check_usable()
        n = len(idx)
        if n == 0:
            return np.zeros(0, dtype=bool)
        if not self.victim_used:
            return self._delete_vectorized(idx.astype(np.int64),
                                           tag.astype(np.uint32))
        out = np.zeros(n, dtype=bool)
        k = 0
        while k < n and self.victim_used:
            out[k] = self._delete_sequential(idx[k:k + 1], tag[k:k + 1])[0]
            k += 1
        if k < n:
            out[k:] = self._delete_vectorized(idx[k:].astype(np.int64),
                                              tag[k:].astype(np.uint32))
        return out

    def _delete_vectorized(self, idx: np.ndarray, tag: np.ndarray) -> np.ndarray:
        n = len(idx)
        out = np.zeros(n, dtype=bool)
        b = self.params.tags_per_bucket
        i2 = self.params.alt(idx, tag)
        canon = self.canonical_pair(idx, tag)
        order = np.argsort(canon, kind="stable")
        sc = canon[order]
        newgrp = np.empty(n, dtype=bool)
        newgrp[0] = True
        np.not_equal(sc[1:], sc[:-1], out=newgrp[1:])
        start = np.flatnonzero(newgrp)
        gid = np.cumsum(newgrp) - 1
        rank = np.arange(n) - start[gid]  # per-group request order

        reps = order[start]  # one representative row per group
        g_i1 = idx[reps]
        g_i2 = i2[reps]
        g_tag = tag[reps]
        m1 = self.slots[g_i1] == g_tag[:, None]  # [G, b]
        m2 = self.slots[g_i2] == g_tag[:, None]
        c1 = m1.sum(axis=1, dtype=np.int64)
        c2 = m2.sum(axis=1, dtype=np.int64)
        same = g_i1 == g_i2  # degenerate pair: both candidates one bucket
        copies = np.where(same, c1, c1 + c2)
        gsize = np.diff(np.r_[start, n])
        removals = np.minimum(gsize, copies)

        # success mask: rank < removals of its group
        succ_sorted = rank < removals[gid]
        out[order] = succ_sorted

        # zero out the first `take1` matches in i1 then `take2` in i2
        take1 = np.minimum(removals, c1)
        take2 = np.where(same, 0, removals - take1)
        cum1 = np.cumsum(m1, axis=1, dtype=np.int64)
        kill1 = m1 & (cum1 <= take1[:, None])
        cum2 = np.cumsum(m2, axis=1, dtype=np.int64)
        kill2 = m2 & (cum2 <= take2[:, None])
        gi = np.concatenate([np.repeat(g_i1, b), np.repeat(g_i2, b)])
        gj = np.concatenate([np.tile(np.arange(b), len(reps))] * 2)
        gk = np.concatenate([kill1.reshape(-1), kill2.reshape(-1)])
        self.slots[gi[gk], gj[gk]] = 0
        n_removed = int(removals.sum())
        self.num_items -= n_removed
        return out

    def _delete_sequential(self, idx: np.ndarray, tag: np.ndarray) -> np.ndarray:
        n = len(idx)
        out = np.zeros(n, dtype=bool)
        for k in range(n):
            i1 = int(idx[k])
            t = np.uint32(tag[k])
            i2 = int(self.params.alt(np.array([i1]),
                                     np.array([t], dtype=np.uint32))[0])
            deleted = False
            for i in (i1, i2):
                js = np.nonzero(self.slots[i] == t)[0]
                if js.size:
                    self.slots[i, js[0]] = 0
                    self.num_items -= 1
                    deleted = True
                    break
            if deleted:
                if self.victim_used:
                    self.victim_used = False
                    self._insert_frontier(
                        np.array([self.victim_index], dtype=np.int64),
                        np.array([self.victim_tag], dtype=np.uint32),
                    )
                out[k] = True
            elif (
                self.victim_used
                and int(t) == self.victim_tag
                and self.victim_index in (i1, i2)
            ):
                self.victim_used = False
                out[k] = True
        return out

    # ------------------------------------------------------------------
    # merge (union) — SURVEY.md §2.3; sound because alt_index is an
    # involution: a tag stored at bucket i re-inserted at i preserves its
    # original candidate pair {i, alt(i, tag)}.
    # ------------------------------------------------------------------
    def merge(self, other: "CuckooKernel", dedupe: bool = False) -> "CuckooKernel":
        """Union-in-place. dedupe=True keeps at most one copy per
        (bucket-pair, tag) — set semantics for membership filters built
        with AddUnique; dedupe=False preserves multiset union."""
        if self.params != other.params:
            raise ValueError(f"cannot merge filters with different params: "
                             f"{self.params} vs {other.params}")
        self._check_usable()
        other._check_usable()  # a poisoned source's half-moved tags must
        # not be harvested into a healthy filter (silent false negatives)
        bi, sj = np.nonzero(other.slots)
        tags = other.slots[bi, sj].astype(np.uint32)
        bi = bi.astype(np.int64)
        if other.victim_used:
            bi = np.concatenate([bi, np.array([other.victim_index], dtype=np.int64)])
            tags = np.concatenate([tags, np.array([other.victim_tag], dtype=np.uint32)])
        self.insert_pairs(bi, tags, dedupe=dedupe)
        return self

    def insert_pairs(self, bi: np.ndarray, tags: np.ndarray, dedupe: bool = False) -> int:
        """Insert raw (bucket, tag) pairs — the sparse-partial merge path.
        Sound at any stored index because alt_index is an involution.
        Returns the number of pairs inserted (after dedupe).

        Unlike Add (which rejects items after the victim stash, reference
        semantics), a pair that does not fit here is LOST DATA — a merge
        or shard combine silently dropping fingerprints would break the
        no-false-negatives guarantee — so overflow raises
        FilterFullError; size tables with headroom instead."""
        self._check_usable()
        bi = bi.astype(np.int64)
        tags = tags.astype(np.uint32)
        if dedupe and len(bi):
            canon = self.canonical_pair(bi, tags)
            _, first = np.unique(canon, return_index=True)
            first = np.sort(first)
            bi, tags = bi[first], tags[first]
            if self.num_items or self.victim_used:
                present = self.contain_hashed(bi, tags)
                bi, tags = bi[~present], tags[~present]
        elif len(bi):
            # multiset: a (pair, tag) fits at most 2b slots; the reference
            # stores 2b copies, stashes one victim, then rejects further
            # Adds. Clip to 2b copies so bulk inserts of heavily
            # duplicated keys degrade like the reference instead of
            # exhausting the kick loop (membership identical).
            cap = 2 * self.params.tags_per_bucket
            canon = self.canonical_pair(bi, tags)
            order = np.argsort(canon, kind="stable")
            sc = canon[order]
            newgrp = np.empty(len(sc), dtype=bool)
            newgrp[0] = True
            np.not_equal(sc[1:], sc[:-1], out=newgrp[1:])
            start = np.flatnonzero(newgrp)
            gid = np.cumsum(newgrp) - 1
            rank = np.arange(len(sc)) - start[gid]
            keep_sorted = order[rank < cap]
            keep = np.sort(keep_sorted)
            bi, tags = bi[keep], tags[keep]
        n = len(bi)
        if n and not self.num_items and not self.victim_used:
            # empty-table fast path (the shard-combine case): every bucket
            # has b free slots, so the first b pairs per bucket scatter
            # directly at their rank; only the overflow joins the kick loop
            srt = np.argsort(bi, kind="stable")
            s_b = bi[srt]
            s_t = tags[srt]
            newgrp = np.empty(n, dtype=bool)
            newgrp[0] = True
            np.not_equal(s_b[1:], s_b[:-1], out=newgrp[1:])
            start = np.flatnonzero(newgrp)
            gid = np.cumsum(newgrp) - 1
            rank = np.arange(n) - start[gid]
            direct = rank < self.params.tags_per_bucket
            self.slots[s_b[direct], rank[direct]] = s_t[direct]
            self.num_items += int(direct.sum())
            mask = self._insert_frontier(s_b[~direct], s_t[~direct])
            if not mask.all():
                raise FilterFullError(
                    f"pair insert overflow: {int((~mask).sum())} of {n} "
                    f"pairs rejected (load={self.load_factor():.3f}) — "
                    f"losing pairs breaks no-false-negatives")
            return n
        mask = self._insert_frontier(bi, tags)
        if not mask.all():
            raise FilterFullError(
                f"pair insert overflow: {int((~mask).sum())} of {n} "
                f"pairs rejected (load={self.load_factor():.3f}) — "
                f"losing pairs breaks no-false-negatives")
        return n

    def canonical_pair(self, bi: np.ndarray, tags: np.ndarray) -> np.ndarray:
        """Orientation-independent id of (candidate pair, tag)."""
        alt = self.params.alt(bi, tags)
        canon = np.minimum(bi, alt).astype(np.uint64) << np.uint64(32)
        return canon | tags.astype(np.uint64)

    # ------------------------------------------------------------------
    # stats
    # ------------------------------------------------------------------
    def size(self) -> int:
        return self.num_items + (1 if self.victim_used else 0)

    def load_factor(self) -> float:
        return self.size() / self.params.size_in_tags

    def size_in_bytes(self) -> int:
        return self.params.size_in_bytes()

    def bits_per_item(self) -> float:
        return 8.0 * self.size_in_bytes() / max(self.size(), 1)

    def describe(self) -> dict:
        return {
            "table_type": self.params.table_type,
            "tags_per_bucket": self.params.tags_per_bucket,
            "bits_per_item": self.params.bits_per_item,
            "num_buckets": self.params.num_buckets,
            "size": self.size(),
            "load_factor": self.load_factor(),
            "size_in_bytes": self.size_in_bytes(),
        }

    # ------------------------------------------------------------------
    # serialization — byte-compatible with SURVEY.md §1.5
    # ------------------------------------------------------------------
    def _encoded_header(self) -> bytes:
        head = struct.pack(
            "<IIIB",
            self.num_items & 0xFFFFFFFF,
            self.victim_index & 0xFFFFFFFF,
            self.victim_tag & 0xFFFFFFFF,
            1 if self.victim_used else 0,
        )
        p = self.params
        if p.table_type == TABLE_PACKED:
            return head + struct.pack("<BBI", TABLE_PACKED, p.bits_per_item,
                                      p.num_buckets)
        if p.table_type == TABLE_VACUUM:
            # our extension: not a Go layout (num_buckets isn't pow2),
            # so it carries a format version byte — r4's alt-range
            # clamp changed probe semantics and pre-r5 blobs must fail
            # loud rather than return silent false negatives. 3 pad
            # bytes keep the table section 4-byte aligned (offset 28)
            # so CuckooProbe's zero-copy u2/u4 views stay ALIGNED=True
            # on the hot probe path.
            return head + struct.pack("<BBBBII3x", TABLE_VACUUM,
                                      VACUUM_BLOB_VERSION, p.tags_per_bucket,
                                      p.bits_per_item, p.num_buckets,
                                      p.chunk_buckets)
        return head + struct.pack(
            "<BBBI", TABLE_SINGLE, p.tags_per_bucket, p.bits_per_item,
            p.num_buckets)

    def to_bytes(self) -> bytes:
        self._check_usable()
        p = self.params
        if p.table_type == TABLE_PACKED:
            table = bitpack.pack_packed(self.slots, p.bits_per_item)
        else:
            table = bitpack.pack_single(self.slots, p.bits_per_item)
        return self._encoded_header() + table

    def encode_chunks(self, chunk_bytes: int = 1 << 20):
        """Streaming encode — reference EncodeReader semantics
        (cuckoofilter.go:268-282: serve the encoding incrementally).
        Yields the blob in ~chunk_bytes pieces; for single/vacuum
        layouts the table section is packed bucket-block by bucket-block
        (block bit-length kept byte-aligned), so no full second copy of
        the table is materialized. The packed semi-sorted layout falls
        back to slicing a one-shot encode (its 12-bit codewords straddle
        bucket boundaries). ``b"".join(encode_chunks()) == to_bytes()``.
        """
        p = self.params
        if p.table_type == TABLE_PACKED:
            blob = self.to_bytes()
            for s in range(0, len(blob), chunk_bytes):
                yield blob[s:s + chunk_bytes]
            return
        yield self._encoded_header()
        bits_per_bucket = p.tags_per_bucket * p.bits_per_item
        import math

        align = 8 // math.gcd(bits_per_bucket, 8)  # buckets per aligned unit
        rows = max(align, (chunk_bytes * 8 // bits_per_bucket) // align * align)
        for lo in range(0, p.num_buckets, rows):
            yield bitpack.pack_single(self.slots[lo:lo + rows], p.bits_per_item)

    @classmethod
    def from_bytes(cls, data: bytes) -> "CuckooKernel":
        if len(data) < 20:
            raise ValueError("unexpected bytes length")
        num_items, v_index, v_tag, used = struct.unpack_from("<IIIB", data, 0)
        table_type = data[13]
        if table_type == TABLE_PACKED:
            f, nb = struct.unpack_from("<BI", data, 14)
            params = CuckooParams(4, f, nb, TABLE_PACKED)
            slots = bitpack.unpack_packed(data[19:], nb, f)
        elif table_type == TABLE_VACUUM:
            ver, b, f, nb, chunk = struct.unpack_from("<BBBII", data, 14)
            _check_vacuum_version(ver)
            params = CuckooParams(b, f, nb, TABLE_VACUUM, chunk)
            slots = bitpack.unpack_single(data[28:], nb, b, f)
        else:
            b, f, nb = struct.unpack_from("<BBI", data, 14)
            params = CuckooParams(b, f, nb, TABLE_SINGLE)
            slots = bitpack.unpack_single(data[20:], nb, b, f)
        out = cls(params)
        out.slots = np.ascontiguousarray(slots, dtype=np.uint32)
        out.num_items = num_items
        out.victim_index = v_index
        out.victim_tag = v_tag
        out.victim_used = used == 1
        return out

    def false_positive_rate(self, rounds: int = 100_000) -> float:
        """Destructive FP self-test mirroring the reference
        (cuckoofilter.go:226-244): reset, fill to SizeInTags() with
        big-endian u32 keys 0..n−1, probe n+1..n+rounds, reset."""
        self.reset()
        n = self.params.size_in_tags
        members = np.arange(n, dtype=">u4").view(np.uint8).reshape(-1, 4)
        lens = np.full(n, 4, dtype=np.int64)
        from cuckoo_filter_spark.hashing import metro64_flat

        h = metro64_flat(members.reshape(-1), lens)
        idx, tag = self.params.split(h)
        try:
            self.add_hashed(idx, tag)
        except FilterFullError:
            pass
        probes = (np.arange(rounds, dtype=np.int64) + n + 1).astype(">u4")
        hp = metro64_flat(probes.view(np.uint8), np.full(rounds, 4, dtype=np.int64))
        pi, pt = self.params.split(hp)
        fp = float(self.contain_hashed(pi, pt).mean())
        self.reset()
        return fp

    def reset(self) -> None:
        self.slots[:] = 0
        self.num_items = 0
        self.victim_index = 0
        self.victim_tag = 0
        self.victim_used = False
        self._corrupt = False  # empty state is consistent again


class CuckooProbe:
    """Zero-copy read-only Contain over a serialized blob — the
    reference's DecodeFrom semantics (cuckoofilter.go:292-314 aliases the
    input slice instead of copying; in-place init util.go:39-48).

    For byte-aligned SingleTable layouts (f ∈ {8, 16, 32}) the tag
    matrix is a dtype VIEW of the blob bytes: no decode pass and no
    second copy, so a broadcast-probe executor holds only the blob
    itself (previously blob + an unpacked uint32 matrix, 2–4× the blob).
    Other layouts (unaligned f, PackedTable) fall back to a one-time
    unpack. Probe-only: inserts/deletes need a full CuckooKernel."""

    __slots__ = ("params", "slots", "victim_index", "victim_tag",
                 "victim_used", "zero_copy")

    def __init__(self, data: bytes):
        if len(data) < 20:
            raise ValueError("unexpected bytes length")
        _, v_index, v_tag, used = struct.unpack_from("<IIIB", data, 0)
        self.victim_index = v_index
        self.victim_tag = v_tag
        self.victim_used = used == 1
        table_type = data[13]
        if table_type == TABLE_SINGLE:
            b, f, nb = struct.unpack_from("<BBI", data, 14)
            if f in (8, 16, 32):
                dt = {8: "<u1", 16: "<u2", 32: "<u4"}[f]
                self.params = CuckooParams(b, f, nb, TABLE_SINGLE)
                self.slots = np.frombuffer(
                    data, dtype=dt, count=nb * b, offset=20).reshape(nb, b)
                self.zero_copy = True
                return
        if table_type == TABLE_VACUUM:
            ver, b, f, nb, chunk = struct.unpack_from("<BBBII", data, 14)
            _check_vacuum_version(ver)
            if f in (8, 16, 32):
                dt = {8: "<u1", 16: "<u2", 32: "<u4"}[f]
                self.params = CuckooParams(b, f, nb, TABLE_VACUUM, chunk)
                self.slots = np.frombuffer(
                    data, dtype=dt, count=nb * b, offset=28).reshape(nb, b)
                self.zero_copy = True
                return
        kern = CuckooKernel.from_bytes(data)
        self.params = kern.params
        self.slots = kern.slots
        self.zero_copy = False

    def contain_hashed(self, idx: np.ndarray, tag: np.ndarray) -> np.ndarray:
        if len(idx) == 0:
            return np.zeros(0, dtype=bool)
        i2 = self.params.alt(idx, tag)
        t = tag[:, None]  # == upcasts the narrow view dtype; values < 2^f
        found = (self.slots[idx] == t).any(axis=1) | (self.slots[i2] == t).any(axis=1)
        if self.victim_used:
            found |= (tag == np.uint32(self.victim_tag)) & (
                (idx == self.victim_index) | (i2 == self.victim_index)
            )
        return found

    def contain(self, items) -> np.ndarray:
        return _key_flags(self.params, items, self.contain_hashed)
