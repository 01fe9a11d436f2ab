"""HyperLogLog — mergeable distinct-count sketch on the shared path.

Standard HLL (Flajolet et al. 2007) with the common corrections:
register index = top p bits of the shared metro64 hash, rho = leading-
zero rank of the remaining 64−p bits; estimate = alpha·m²/Σ2^(−M_j) with
linear counting for the small range. Merge = element-wise register max.
Relative error ≈ 1.04/√m. Cross-checked in tests against exact
count(distinct) and Spark's approx_count_distinct.
"""

from __future__ import annotations

import struct

import numpy as np

from cuckoo_filter_spark.hashing import present_hashes

_MAGIC = b"HLL1"


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


class HLLSketch:
    def __init__(self, p: int = 14):
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        self.p = p
        self.m = 1 << p
        self.registers = np.zeros(self.m, dtype=np.uint8)

    def update(self, items) -> None:
        """Add the present keys of ``items`` (``hashing.present_hashes``:
        NULL/NaN keys are skipped, an integral float counts as its
        int64)."""
        self.update_hashed(present_hashes(items)[1])

    def update_hashed(self, h: np.ndarray) -> None:
        p = np.uint64(self.p)
        idx = (h >> (np.uint64(64) - p)).astype(np.int64)
        rest = (h << p) | (np.uint64(1) << (p - np.uint64(1)))  # sentinel bit
        # rho = leading zeros of rest + 1, capped at 64-p+1 by the sentinel
        lz = np.uint64(64) - self._bit_length(rest)
        rho = (lz + np.uint64(1)).astype(np.uint8)
        np.maximum.at(self.registers, idx, rho)

    @staticmethod
    def _bit_length(x: np.ndarray) -> np.ndarray:
        """Vectorized bit_length for uint64 (position of highest set bit)."""
        n = np.zeros(len(x), dtype=np.uint64)
        v = x.copy()
        for shift in (32, 16, 8, 4, 2, 1):
            s = np.uint64(shift)
            big = v >= (np.uint64(1) << s)
            n[big] += s
            v[big] >>= s
        n[x > 0] += np.uint64(1)
        return n

    def merge(self, other: "HLLSketch") -> "HLLSketch":
        if self.p != other.p:
            raise ValueError("hll precision mismatch")
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def estimate(self) -> float:
        m = self.m
        inv = np.exp2(-self.registers.astype(np.float64)).sum()
        e = _alpha(m) * m * m / inv
        if e <= 2.5 * m:
            zeros = int((self.registers == 0).sum())
            if zeros:
                return m * np.log(m / zeros)  # linear counting
        if e > (1 << 64) / 30.0:
            return -((1 << 64)) * np.log(1 - e / (1 << 64))
        return float(e)

    def relative_error(self) -> float:
        return 1.04 / np.sqrt(self.m)

    def to_bytes(self) -> bytes:
        return _MAGIC + struct.pack("<B", self.p) + self.registers.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "HLLSketch":
        assert data[:4] == _MAGIC
        out = cls(p=data[4])
        out.registers = np.frombuffer(data[5:], dtype=np.uint8).copy()
        return out
