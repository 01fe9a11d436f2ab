"""Theta (KMV) sketch — mergeable distinct counting WITH set algebra.

The one estimator family HLL cannot provide: besides union (merge),
theta sketches give direct INTERSECTION and A-NOT-B cardinality
estimates (Dasgupta, Lang, Rhodes, Thaler — the DataSketches theta
framework), so "how many urls appear in BOTH crawls" / "how many users
did X but never Y" become one-scan sketch queries instead of exact
distinct joins.

Mechanism (k minimum values): keep the k smallest distinct metro64
hash values; once more than k are seen, theta = the (k+1)-th smallest
and everything >= theta is discarded. The retained set is a uniform
sample of the key space below theta, so distinct ~= |retained| / theta
(theta normalized to (0, 1]). Set results follow from plain set
algebra on the retained values at theta = min(theta_a, theta_b).

Two properties this implementation pins in tests:

* **Exact below k** — until the first trim, theta stays 1.0 and the
  sketch holds every distinct hash: estimates are exact (modulo a
  ~n^2/2^65 hash-collision probability). The contract query runs in
  this regime so the DuckDB oracle checks strict equality.
* **Order-independent state** — batch update (union + single trim)
  provably keeps retained = exactly the k smallest distinct hashes
  seen, theta = (k+1)-th smallest, REGARDLESS of arrival or merge
  order. Merge is therefore associative and commutative at the BYTE
  level, not just the estimate level (stronger than the cuckoo merge
  of SURVEY.md SS2.3, where only membership answers are order-free).

Unlike the cuckoo filter (reference cuckoofilter.go — membership with
deletes, no cardinality), the theta sketch answers cardinality and set
algebra but not membership; the library offers both over the same
vectorized metro64 Arrow path.
"""

from __future__ import annotations

import struct

import numpy as np

from cuckoo_filter_spark.hashing import present_hashes

_MAGIC = b"THS1"
_FULL = 1 << 64  # theta's exact-mode value (keys space is [0, 2^64))


def _below(values: np.ndarray, theta: int) -> np.ndarray:
    """Retained values strictly below a (python-int) theta."""
    if theta >= _FULL:
        return values
    return values[values < np.uint64(theta)]


class ThetaSketch:
    """k-minimum-values sketch over the shared metro64 hash.

    ``values`` is always sorted-unique uint64, every entry < ``theta``
    (a python int in (0, 2^64]), and ``len(values) <= k``.
    """

    def __init__(self, k: int = 4096):
        if k < 16:
            raise ValueError("theta sketch k must be >= 16")
        self.k = k
        self.theta = _FULL
        self.values = np.empty(0, dtype=np.uint64)
        #: set by _compact on intersect/a_not_b results: those sketches
        #: sample a DERIVED set, so folding new raw items into them has
        #: no sound semantics — fail loud instead of estimating garbage.
        #: In-memory only (serialized blobs are plain KMV state).
        self.read_only = False

    # -- updates -----------------------------------------------------------

    def _check_writable(self, op: str) -> None:
        if self.read_only:
            raise ValueError(
                f"cannot {op} a compact set-operation result sketch "
                "(theta_intersect/theta_a_not_b output is estimate-only; "
                "rebuild from raw data to add items)")

    def update(self, items) -> None:
        """Add the present keys of ``items`` (``hashing.present_hashes``:
        NULL/NaN keys are skipped, an integral float counts as its
        int64)."""
        self.update_hashed(present_hashes(items)[1])

    def update_hashed(self, h: np.ndarray) -> None:
        self._check_writable("update")
        fresh = _below(np.unique(h.astype(np.uint64, copy=False)), self.theta)
        if len(fresh) == 0:
            return
        self.values = np.union1d(self.values, fresh)
        self._trim()

    def _trim(self) -> None:
        # single trim after a batch union keeps the invariant
        # (retained, theta) = (k smallest distinct seen, (k+1)-th):
        # see module docstring — this is what makes state order-free.
        if len(self.values) > self.k:
            self.theta = int(self.values[self.k])
            self.values = self.values[: self.k]

    def merge(self, other: "ThetaSketch") -> "ThetaSketch":
        # merging (= union) IS sound for compact set-op results — both
        # sides are theta-sampled sets and union re-samples at the min
        # theta; only raw-item UPDATE is unsound — but merging INTO a
        # compact result would silently clear its estimate-only nature,
        # so route through theta_union (which copies) instead.
        self._check_writable("merge into")
        if self.k != other.k:
            raise ValueError(
                f"theta sketch k mismatch: {self.k} vs {other.k}")
        self.theta = min(self.theta, other.theta)
        self.values = np.union1d(
            _below(self.values, self.theta), _below(other.values, self.theta))
        self._trim()
        return self

    # -- estimates ---------------------------------------------------------

    def estimate(self) -> float:
        if self.theta >= _FULL:
            return float(len(self.values))  # exact mode
        return len(self.values) * (2.0 ** 64) / self.theta

    def is_estimation_mode(self) -> bool:
        return self.theta < _FULL

    def relative_error(self) -> float:
        """RSE ~= 1/sqrt(k-1) in estimation mode (union/estimate);
        intersection error additionally scales ~ sqrt(|A u B|/|A n B|).
        0.0 in exact mode."""
        return 1.0 / np.sqrt(self.k - 1) if self.is_estimation_mode() else 0.0

    # -- serialization -----------------------------------------------------

    def to_bytes(self) -> bytes:
        return (
            _MAGIC
            + struct.pack("<IQI", self.k, self.theta - 1, len(self.values))
            + self.values.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "ThetaSketch":
        if data[:4] != _MAGIC:
            raise ValueError("not a theta sketch blob")
        k, theta_m1, n = struct.unpack_from("<IQI", data, 4)
        if len(data) < 20 + 8 * n:
            raise ValueError(
                f"truncated theta sketch blob: header claims {n} values, "
                f"payload holds {(len(data) - 20) // 8}")
        out = cls(k=k)
        out.theta = theta_m1 + 1
        out.values = np.frombuffer(data[20:20 + 8 * n], dtype="<u8").astype(
            np.uint64)
        return out


def _compact(k: int, theta: int, values: np.ndarray) -> ThetaSketch:
    out = ThetaSketch(k=k)
    out.theta = theta
    out.values = values
    out.read_only = True
    return out


def theta_union(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    """Non-mutating union (merge of copies)."""
    return ThetaSketch.from_bytes(a.to_bytes()).merge(b)


def theta_intersect(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    """|A n B| sketch: both retained sets at theta = min(thetas) are
    uniform samples of the same hash region, so their intersection
    samples A n B at the same rate. Result is COMPACT (set-algebra and
    estimate only — updating it would mean 'insert into an
    intersection', which has no sound semantics)."""
    if a.k != b.k:
        raise ValueError(f"theta sketch k mismatch: {a.k} vs {b.k}")
    theta = min(a.theta, b.theta)
    vals = np.intersect1d(_below(a.values, theta), _below(b.values, theta))
    return _compact(a.k, theta, vals)


def theta_a_not_b(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    """|A \\ B| sketch: A's retained sample below theta, minus every
    hash B retained (B entries >= theta cannot collide with them)."""
    if a.k != b.k:
        raise ValueError(f"theta sketch k mismatch: {a.k} vs {b.k}")
    theta = min(a.theta, b.theta)
    vals = np.setdiff1d(_below(a.values, theta), b.values)
    return _compact(a.k, theta, vals)


def theta_jaccard(a: ThetaSketch, b: ThetaSketch) -> float:
    """Estimated Jaccard similarity |A n B| / |A u B| (1.0 when both
    are empty — the degenerate sets-are-equal reading)."""
    u = theta_union(a, b).estimate()
    return theta_intersect(a, b).estimate() / u if u > 0 else 1.0


def build_theta_sketches(
    df, cols: list[str], k: int = 4096,
) -> tuple[list[ThetaSketch], list[dict]]:
    """ONE scan -> one ThetaSketch per column, with NULLs excluded.

    The null exclusion is the composition hook: pre-project row
    predicates as ``F.when(cond, key_col)`` columns and a single pass
    builds a sketch per SUBSET — the set-algebra inputs (users-who-X,
    users-who-Y) without re-scanning per predicate. Keys go through
    base.sketch_partials' ``keys`` rule (hashing.arrow_key_hashes), so
    a bigint column hashes via the 8-byte int encoding in every batch,
    NULL-bearing or not. Returns ([sketch per col], metrics rows).
    """
    from cuckoo_filter_spark.sketches.base import _build

    return _build(df, [(c, lambda: ThetaSketch(k=k), "keys") for c in cols])
