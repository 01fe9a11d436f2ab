"""Misra-Gries frequent-items sketch — mergeable top-K with guarantees.

Completes the frequency story: count-min (countmin.py) answers "how
often did THIS item occur" but cannot enumerate; Misra-Gries carries
its own bounded candidate set, so "what ARE the frequent items" is a
one-scan mergeable sketch query. Classic MG summary with the mergeable
extension (Agarwal, Cormode, Huang, Phillips, Wei, Yi — "Mergeable
Summaries", PODS 2012): merging two summaries and re-trimming keeps
the additive error bound.

State: at most k counters (item -> undercount) plus ``offset``, the
total mass subtracted by trims. Invariant for EVERY item (present or
not): ``counter(x) <= f(x) <= counter(x) + offset``, and
``offset <= n / (k+1)``. Hence any item with true frequency above
``offset`` is guaranteed retained, and ``counter >= t`` proves
``f >= t``. These bounds hold REGARDLESS of batch boundaries or merge
order (the retained set itself may vary — only the bounds are the
contract, which is what the oracle checks).

Exact mode: with fewer than k distinct items no trim ever fires,
``offset == 0``, and the counters are exact frequencies — the regime
the contract query runs in (like set_ops' theta rows), while pytest pins the
estimation-mode bounds on skewed data.

Item identity is ``str(value)`` (pre-stringified in update), matching
the engine-portable ``CAST(x AS VARCHAR)`` convention of
operators/sampling.py; NULLs and NaNs are excluded (a NULL is not an
item) and an integral float is its int64 ('402', never '402.0'), so
``update``, ``build_mg_sketches`` and ``grouped_mg_topk`` count the
same items.
"""

from __future__ import annotations

import struct

import pandas as pd
import pyarrow as pa

from cuckoo_filter_spark.hashing import canon_int_keys


class MGSketch:
    def __init__(self, k: int = 256):
        if k < 2:
            raise ValueError("misra-gries k must be >= 2")
        self.k = k
        self.counters: dict[str, int] = {}
        self.offset = 0
        self.n_items = 0

    # -- updates -----------------------------------------------------------

    def update(self, items) -> None:
        """Batch update from any sequence/Series; NULLs dropped, values
        stringified (an integral float as its int64). Vectorized
        counting via pandas value_counts — the python-side dict merge
        touches at most k + batch-distinct keys."""
        s = items if isinstance(items, pd.Series) else pd.Series(list(items))
        vc = canon_int_keys(s.dropna()).astype(str).value_counts()
        if len(vc) == 0:
            return
        self.n_items += int(vc.sum())
        ctr = self.counters
        for key, c in vc.items():
            ctr[key] = ctr.get(key, 0) + int(c)
        self._trim()

    def _trim(self) -> None:
        # subtract the (k+1)-th largest count from every counter (and,
        # implicitly, from every absent item via `offset`), drop <= 0 —
        # at most k strictly-greater counters survive
        if len(self.counters) <= self.k:
            return
        d = sorted(self.counters.values(), reverse=True)[self.k]
        self.counters = {key: c - d for key, c in self.counters.items()
                         if c > d}
        self.offset += d

    def merge(self, other: "MGSketch") -> "MGSketch":
        if self.k != other.k:
            raise ValueError(
                f"misra-gries k mismatch: {self.k} vs {other.k}")
        ctr = self.counters
        for key, c in other.counters.items():
            ctr[key] = ctr.get(key, 0) + c
        self.offset += other.offset
        self.n_items += other.n_items
        self._trim()
        return self

    # -- queries -----------------------------------------------------------

    def estimate(self, item) -> tuple[int, int]:
        """(lower, upper) bound on the true frequency of ``item``:
        lower = counter (0 if absent), upper = counter + offset."""
        c = self.counters.get(str(item), 0)
        return c, c + self.offset

    def guaranteed_at_least(self, threshold: int) -> dict[str, int]:
        """Items PROVEN to have f >= threshold (counter alone clears
        it) -> their lower bounds."""
        return {i: c for i, c in self.counters.items() if c >= threshold}

    def candidates_at_least(self, threshold: int) -> dict[str, int]:
        """Every item that COULD have f >= threshold (upper bound
        clears it) — a superset of the truth whenever
        threshold > offset; verify candidates exactly downstream if
        needed."""
        return {i: c for i, c in self.counters.items()
                if c + self.offset >= threshold}

    def top_k(self, n: int) -> list[tuple[str, int, int]]:
        """(item, lower, upper) for the n largest counters, ordered by
        lower bound desc then item (deterministic given the state)."""
        ranked = sorted(self.counters.items(), key=lambda kv: (-kv[1], kv[0]))
        return [(i, c, c + self.offset) for i, c in ranked[:n]]

    def is_exact(self) -> bool:
        return self.offset == 0

    # -- serialization -----------------------------------------------------

    _MAGIC = b"MGS1"

    def to_bytes(self) -> bytes:
        parts = [self._MAGIC,
                 struct.pack("<IQQI", self.k, self.offset, self.n_items,
                             len(self.counters))]
        for key, c in sorted(self.counters.items()):
            kb = key.encode("utf-8")
            parts.append(struct.pack("<IQ", len(kb), c))
            parts.append(kb)
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, data: bytes) -> "MGSketch":
        if data[:4] != cls._MAGIC:
            raise ValueError("not a misra-gries sketch blob")
        if len(data) < 4 + 24:
            raise ValueError("truncated misra-gries sketch blob")
        k, offset, n_items, n = struct.unpack_from("<IQQI", data, 4)
        out = cls(k=k)
        out.offset, out.n_items = offset, n_items
        pos = 4 + 24
        for _ in range(n):
            if len(data) < pos + 12:
                raise ValueError("truncated misra-gries sketch blob")
            klen, c = struct.unpack_from("<IQ", data, pos)
            pos += 12
            key = data[pos:pos + klen]
            if len(key) != klen:
                raise ValueError("truncated misra-gries sketch blob")
            pos += klen
            out.counters[key.decode("utf-8")] = c
        return out


def build_mg_sketches(df, cols: list[str], k: int = 256):
    """ONE scan -> one MGSketch per column, NULLs excluded, int-with-
    nulls key identity restored to '402' (not '402.0').

    Pre-project row predicates as ``F.when(cond, key_col)`` columns to
    get per-SUBSET heavy hitters from a single pass (heavy users
    overall vs heavy users among errors, etc.) — the same composition
    hook as theta.build_theta_sketches. Runs base.sketch_partials: one
    <= ~(k * avg_key_len) byte blob per (partition, col), driver
    merge + re-trim (Mergeable Summaries, PODS 2012) — zero raw-key
    shuffle at any scale. Returns ([MGSketch per col], metrics).
    """
    from cuckoo_filter_spark.sketches.base import _build

    return _build(df, [(c, lambda: MGSketch(k=k), "keys") for c in cols])


#: the output columns of grouped_mg_topk after its group column
MG_TOPK_ROW = [("item", pa.string()), ("freq_lo", pa.int64()),
               ("freq_hi", pa.int64()), ("exact_mode", pa.bool_())]


def _mg_combiner(group_col: str, k: int, top_n: int):
    """grouped_mg_topk's merge: one group's MG blobs (in source-partition
    order) into its top-N rows."""

    def combine(t: pa.Table) -> list[dict]:
        sk = MGSketch(k=k)
        for b in t["blob"].to_pylist():
            sk.merge(MGSketch.from_bytes(b))
        g = t[group_col][0].as_py()
        return [{group_col: g, "item": item, "freq_lo": lo, "freq_hi": hi,
                 "exact_mode": sk.is_exact()}
                for item, lo, hi in sk.top_k(top_n)]

    return combine


def grouped_mg_topk(df, group_col: str, item_col: str, k: int = 256,
                    top_n: int = 10):
    """Per-group Misra-Gries top-N: (group, item, freq_lo, freq_hi,
    exact_mode), at most ``top_n`` rows per group ordered by
    (freq_lo desc, item asc) — a deterministic tie-break shared with
    the SQL oracle's ROW_NUMBER form.

    Two-phase mergeable shape (the grouped_distinct_count pattern, but
    with NO raw-key shuffle at all): phase 1 builds one MG partial per
    (input partition, group) in the grouped Arrow partial
    (``base.grouped_partials``) on the NATURAL partitions — hot groups
    parallelize across partitions instead of funneling into one task;
    phase 2 shuffles only the <= partitions x groups blobs
    (~k * avg_key_len bytes each) and merges per group in
    source-partition order (``base.merge_groups``). At 100 TB: a full
    GROUP BY(group, item) shuffle is replaced by a blob shuffle ~1e6x
    smaller.

    Bounds per group: freq_lo <= f <= freq_hi always; when the group's
    distinct-item count stays below k the sketch is EXACT (exact_mode
    true, freq_lo == freq_hi == f) and the output equals the exact
    top-N — the regime the contract query pins against SQL. In
    estimation mode the BOUNDS hold for any partitioning/merge order
    but tail membership of the top-N may vary with the partitioning
    (document of record: freq.py header); the merge order is the source
    partition order, so a given partitioning gives the same top-N.
    NULL groups and NULL items are excluded (a NULL is not a group / an
    item). Executor memory: phase 1 holds one sketch per LOCAL group per
    partition — sized for moderate group cardinality (<= ~1e5 groups);
    item identity is ``MGSketch.update``'s ('402', never '402.0').
    """
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.sketches.base import (
        group_schema,
        grouped_partials,
        merge_groups,
    )

    MGSketch(k=k)  # validate k on the driver, not in an executor task
    if top_n < 1:
        raise ValueError("grouped_mg_topk top_n must be >= 1")
    sel = df.select(group_col, item_col).where(F.col(group_col).isNotNull())
    parts = grouped_partials(sel, [group_col], item_col,
                             make=lambda: MGSketch(k=k))
    return merge_groups(parts, [group_col], _mg_combiner(group_col, k, top_n),
                        group_schema(sel, [group_col], MG_TOPK_ROW))
