"""Count-min sketch — mergeable frequency counters on the shared path.

d rows × w counters (w a power of two). Row hashes derive from the one
shared metro64 evaluation via independent mixes of (h, row-seed), so the
Arrow-batch path stays single-hash-per-key. Point query = min over rows
(one-sided overestimate: err ≤ e·N/w with prob 1−e^−d). Merge =
element-wise add.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from cuckoo_filter_spark.hashing import fmix64 as _mix
from cuckoo_filter_spark.hashing import present_hashes

_MAGIC = b"CMS1"
_ROW_SEEDS = np.uint64(0x9E3779B97F4A7C15)


class CountMinSketch:
    def __init__(self, width: int = 1 << 16, depth: int = 4,
                 eps: float | None = None, delta: float | None = None):
        if eps is not None:
            width = 1 << math.ceil(math.log2(math.e / eps))
        if delta is not None:
            depth = max(1, math.ceil(math.log(1 / delta)))
        if width & (width - 1):
            raise ValueError("width must be a power of two")
        self.width = width
        self.depth = depth
        self.counts = np.zeros((depth, width), dtype=np.int64)
        self.total = 0

    def update(self, items, weights=None) -> None:
        """Count the present keys of ``items`` (``hashing.present_hashes``:
        a NULL/NaN key and its weight are skipped)."""
        present, h = present_hashes(items)
        if weights is not None:
            weights = np.asarray(weights)[present]
        self.update_hashed(h, weights)

    def _cols(self, h: np.ndarray) -> np.ndarray:
        seeds = (np.arange(1, self.depth + 1, dtype=np.uint64) * _ROW_SEEDS)[:, None]
        return (_mix(h[None, :], seeds) & np.uint64(self.width - 1)).astype(np.int64)

    def update_hashed(self, h: np.ndarray, weights=None) -> None:
        cols = self._cols(h)  # [d, n]
        w = np.ones(len(h), dtype=np.int64) if weights is None else np.asarray(weights, dtype=np.int64)
        if weights is not None and len(w) and int(w.min()) < 0:
            # a negative weight drives `total` negative, which only
            # explodes later as an opaque struct.error when to_bytes
            # packs it as '<Q' on some executor — fail loud at the cause
            # (the NULL/negative raise-loud convention, cf. packing)
            raise ValueError(
                f"count-min weights must be >= 0 (got min {int(w.min())}); "
                "conservative-min estimates assume non-negative counts")
        for r in range(self.depth):
            np.add.at(self.counts[r], cols[r], w)
        self.total += int(w.sum())

    def query(self, items) -> np.ndarray:
        """Estimated count per item; a NULL/NaN key answers 0."""
        present, h = present_hashes(items)
        out = np.zeros(len(present), dtype=np.int64)
        out[present] = self.query_hashed(h)
        return out

    def query_hashed(self, h: np.ndarray) -> np.ndarray:
        cols = self._cols(h)
        ests = np.stack([self.counts[r][cols[r]] for r in range(self.depth)])
        return ests.min(axis=0)

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.width, self.depth) != (other.width, other.depth):
            raise ValueError("count-min param mismatch")
        self.counts += other.counts
        self.total += other.total
        return self

    def error_bound(self) -> float:
        """ε·N additive overestimate bound (ε = e/width)."""
        return math.e / self.width * self.total

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack("<IIQ", self.width, self.depth, self.total)
        return head + self.counts.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountMinSketch":
        assert data[:4] == _MAGIC
        width, depth, total = struct.unpack_from("<IIQ", data, 4)
        out = cls(width=width, depth=depth)
        out.counts = np.frombuffer(data[20:], dtype=np.int64).reshape(depth, width).copy()
        out.total = total
        return out
