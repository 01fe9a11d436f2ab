"""MetroHash64 — scalar and vectorized (numpy) implementations.

The reference filter hashes every key with 64-bit MetroHash, seed 1337
(reference: cuckoofilter.go:99 ``metro.Hash64(item, 1337)``; algorithm:
vendor/github.com/dgryski/go-metro/metro64.go:10-84, itself a port of
J. Andrew Rogers' public MetroHash64_2). Index/tag derivation:
cuckoofilter.go:89-108.

Two implementations:

* :func:`metro64` — pure-Python scalar, a faithful re-derivation of the
  published algorithm. Used as the parity oracle in tests and for
  driver-side one-off hashing.
* :func:`metro64_batch` / :func:`metro64_flat` — numpy-vectorized over
  a batch of variable-length byte strings: the 32-byte block
  recurrence runs batched across all rows that still have blocks left,
  and the tail branches (16/8/4/2/1 bytes) are applied with per-row
  masks. No per-row Python in the hot loop.

Both are implemented from the published algorithm description; the test
suite pins ``metro64_batch == metro64`` across lengths 0..200.

The key rule, :func:`present_hashes`, serves every build, probe and
driver item API; ``metro64_batch`` has no NULL rule.
"""

from __future__ import annotations

import numpy as np

_K0 = 0xD6D018F5
_K1 = 0xA2AA033B
_K2 = 0x62992FC1
_K3 = 0x30BC5B29
_MASK64 = (1 << 64) - 1

DEFAULT_SEED = 1337  # cuckoofilter.go:99


def _rotr(x: int, r: int) -> int:
    return ((x >> r) | (x << (64 - r))) & _MASK64


def metro64(data: bytes, seed: int = DEFAULT_SEED) -> int:
    """Scalar MetroHash64 (seed defaults to the filter's 1337)."""
    h = ((seed + _K2) * _K0) & _MASK64
    n = len(data)
    off = 0

    if n >= 32:
        v0 = v1 = v2 = v3 = h
        while n - off >= 32:
            v0 = (v0 + int.from_bytes(data[off : off + 8], "little") * _K0) & _MASK64
            v0 = (_rotr(v0, 29) + v2) & _MASK64
            v1 = (v1 + int.from_bytes(data[off + 8 : off + 16], "little") * _K1) & _MASK64
            v1 = (_rotr(v1, 29) + v3) & _MASK64
            v2 = (v2 + int.from_bytes(data[off + 16 : off + 24], "little") * _K2) & _MASK64
            v2 = (_rotr(v2, 29) + v0) & _MASK64
            v3 = (v3 + int.from_bytes(data[off + 24 : off + 32], "little") * _K3) & _MASK64
            v3 = (_rotr(v3, 29) + v1) & _MASK64
            off += 32
        v2 ^= (_rotr(((v0 + v3) * _K0 + v1) & _MASK64, 37) * _K1) & _MASK64
        v3 ^= (_rotr(((v1 + v2) * _K1 + v0) & _MASK64, 37) * _K0) & _MASK64
        v0 ^= (_rotr(((v0 + v2) * _K0 + v3) & _MASK64, 37) * _K1) & _MASK64
        v1 ^= (_rotr(((v1 + v3) * _K1 + v2) & _MASK64, 37) * _K0) & _MASK64
        h = (h + (v0 ^ v1)) & _MASK64

    if n - off >= 16:
        v0 = (h + int.from_bytes(data[off : off + 8], "little") * _K2) & _MASK64
        v0 = (_rotr(v0, 29) * _K3) & _MASK64
        v1 = (h + int.from_bytes(data[off + 8 : off + 16], "little") * _K2) & _MASK64
        v1 = (_rotr(v1, 29) * _K3) & _MASK64
        v0 ^= (_rotr((v0 * _K0) & _MASK64, 21) + v1) & _MASK64
        v1 ^= (_rotr((v1 * _K3) & _MASK64, 21) + v0) & _MASK64
        h = (h + v1) & _MASK64
        off += 16

    if n - off >= 8:
        h = (h + int.from_bytes(data[off : off + 8], "little") * _K3) & _MASK64
        off += 8
        h ^= (_rotr(h, 55) * _K1) & _MASK64

    if n - off >= 4:
        h = (h + int.from_bytes(data[off : off + 4], "little") * _K3) & _MASK64
        h ^= (_rotr(h, 26) * _K1) & _MASK64
        off += 4

    if n - off >= 2:
        h = (h + int.from_bytes(data[off : off + 2], "little") * _K3) & _MASK64
        off += 2
        h ^= (_rotr(h, 48) * _K1) & _MASK64

    if n - off >= 1:
        h = (h + data[off] * _K3) & _MASK64
        h ^= (_rotr(h, 37) * _K1) & _MASK64

    h ^= _rotr(h, 28)
    h = (h * _K0) & _MASK64
    h ^= _rotr(h, 29)
    return h


# ---------------------------------------------------------------------------
# Vectorized implementation
# ---------------------------------------------------------------------------

_U64 = np.uint64
_NK0 = _U64(_K0)
_NK1 = _U64(_K1)
_NK2 = _U64(_K2)
_NK3 = _U64(_K3)


def _rotr_np(x: np.ndarray, r: int) -> np.ndarray:
    r_ = _U64(r)
    l_ = _U64(64 - r)
    return (x >> r_) | (x << l_)


def to_flat_bytes(items) -> tuple[np.ndarray, np.ndarray]:
    """Normalize a batch of keys to (flat uint8 array, per-row lengths).

    Accepts: pandas Series of str/bytes, pyarrow String/Binary arrays,
    list/ndarray of bytes. Uses Arrow buffers when available so the hot
    path does not touch per-row Python objects.
    """
    import pyarrow as pa

    if isinstance(items, pa.ChunkedArray):
        items = items.combine_chunks()
    if not isinstance(items, pa.Array):
        try:
            import pandas as pd

            if isinstance(items, pd.Series):
                items = pa.Array.from_pandas(items)
            else:
                items = pa.array(list(items))
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            # fall back: list of bytes objects
            lens = np.fromiter((len(b) for b in items), dtype=np.int64)
            flat = np.frombuffer(b"".join(items), dtype=np.uint8)
            return flat, lens

    typ = items.type
    if pa.types.is_integer(typ) or pa.types.is_floating(typ):
        # canonical fixed-width key encoding: 8-byte little-endian
        if items.null_count:
            raise ValueError("null keys are not supported")
        vals = items.to_numpy(zero_copy_only=False)
        wide = vals.astype("<i8") if pa.types.is_integer(typ) else vals.astype("<f8")
        flat = np.ascontiguousarray(wide).view(np.uint8)
        lens = np.full(len(items), 8, dtype=np.int64)
        return flat, lens
    if pa.types.is_string(typ) or pa.types.is_binary(typ):
        odt = np.int32
    elif pa.types.is_large_string(typ) or pa.types.is_large_binary(typ):
        odt = np.int64
    else:
        items = items.cast(pa.large_binary())
        odt = np.int64
    bufs = items.buffers()
    off0 = items.offset
    offsets = np.frombuffer(bufs[1], dtype=odt, count=len(items) + 1 + off0)[off0:]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    lens = (offsets[1:] - offsets[:-1]).astype(np.int64)
    start = int(offsets[0])
    end = int(offsets[-1])
    flat = data[start:end]
    return np.ascontiguousarray(flat), lens


def _pad_rows(flat: np.ndarray, lens: np.ndarray, pad: int = 8) -> np.ndarray:
    """Ragged → dense 2D uint8 [n, maxlen+pad] (zero padded, 8-byte aligned).

    Copy strategy: one fancy gather per distinct LENGTH CLASS (url-ish
    workloads have a handful) — measured ~2× faster than the boolean-
    mask assignment, which the many-classes case falls back to."""
    n = len(lens)
    maxlen = int(lens.max()) if n else 0
    width = maxlen + pad
    width += (-width) % 8  # keep row width a multiple of 8 for u64 views
    buf = np.zeros((n, width), dtype=np.uint8)
    if not maxlen:
        return buf
    uls = np.unique(lens)
    if len(uls) <= 64:
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        for L in uls:
            if L == 0:
                continue
            rr = np.nonzero(lens == L)[0]
            src = starts[rr][:, None] + np.arange(int(L))
            buf[rr, :int(L)] = flat[src]
    else:
        mask = np.arange(maxlen) < lens[:, None]
        buf[:, :maxlen][mask] = flat
    return buf


def _read_u64_at(u64buf: np.ndarray, rows: np.ndarray, off: np.ndarray,
                 nbytes: int) -> np.ndarray:
    """Little-endian read of `nbytes` bytes at per-row byte offsets via
    TWO aligned u64 lane loads + shift-combine (the row pad guarantees
    lane+1 exists) — ~4× fewer gathered elements than a per-byte gather
    for 8-byte reads."""
    lane = (off >> 3).astype(np.int64)
    sh = ((off.astype(np.uint64) & _U64(7)) * _U64(8))
    lo = u64buf[rows, lane]
    hi = u64buf[rows, lane + 1]
    w = (lo >> sh) | np.where(sh == 0, _U64(0),
                              hi << ((_U64(64) - sh) & _U64(63)))
    if nbytes < 8:
        w = w & _U64((1 << (8 * nbytes)) - 1)
    return w


def metro64_batch(items, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Vectorized MetroHash64 over a batch of byte strings → uint64[n]."""
    flat, lens = to_flat_bytes(items)
    return metro64_flat(flat, lens, seed)


def fmix64(x: np.ndarray, seed=0) -> np.ndarray:
    """Murmur3 fmix64 finalizer over uint64 arrays — the ONE bit mixer
    shared by the count-min row hashing and the shingle rolling hash
    (two hand-copies drifted-by-spelling before; identical math)."""
    z = x ^ (np.uint64(seed) if isinstance(seed, int) else seed)
    z = (z ^ (z >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
    z = (z ^ (z >> np.uint64(29))) * np.uint64(0xC4CEB9FE1A85EC53)
    return z ^ (z >> np.uint64(32))


def canon_int_keys(vals):
    """The float step of the key rule: an integral float batch is
    restored to int64 (``3.0`` is the key ``3``) by
    :func:`arrow_key_hashes` and ``MGSketch.update``; other dtypes pass.

    Fail-loud hardening (ADVICE r6): float keys are NOT supported as
    membership keys, and the two silent failure modes raise —

    * a non-integral float batch means the caller really passed float
      keys; restoring only all-integral batches would give a key a
      batch-composition-DEPENDENT identity ([2.0] restored to int64,
      [2.0, 2.5] left float64) — a silent cross-batch identity split;
    * an integral batch with magnitudes beyond float64's exact-integer
      range (2^53) means the float64 rendering already LOST the
      original int64 values (pandas renders a NULL-bearing bigint
      column as float64) — the restored int64 would be silently wrong.
      Pass such keys as Arrow int64 or pandas ``Int64``, or hash them
      as strings (``CAST(key AS STRING)``)."""
    if getattr(vals, "dtype", None) is not None and vals.dtype.kind == "f" \
            and len(vals):
        v = np.asarray(vals)
        if not (np.isfinite(v).all() and (v == np.floor(v)).all()):
            raise TypeError(
                "canon_int_keys: non-integral float key batch — float "
                "keys are not supported as membership keys (their hash "
                "identity would depend on batch composition); cast to a "
                "stable string/integral form first")
        if (np.abs(v) > 2.0 ** 53).any():
            raise ValueError(
                "canon_int_keys: integral key batch beyond float64's "
                "exact-integer range (|key| > 2^53) arrived as float64 "
                "(Arrow renders null-bearing bigint batches as float64) "
                "— the original values are already lost, so restoring "
                "int64 would silently mis-hash; CAST the key to STRING "
                "or drop NULLs JVM-side so batches stay int64")
        return vals.astype("int64")
    return vals


def arrow_key_hashes(arr, seed: int = DEFAULT_SEED) -> np.ndarray:
    """uint64 metro64 of every slot of a NULL-free Arrow key array —
    the hashing half of :func:`present_hashes`, straight from the Arrow
    buffers with no pandas round trip.

    Integer, string and binary arrays hash as they are (an integer as
    its 8-byte little-endian int64, so int32 and int64 keys agree). A
    floating array goes through :func:`canon_int_keys` (integral →
    int64, otherwise ``TypeError``), so a double key and its int64
    value are one key. A bigint column stays int64 plus a validity
    bitmap in Arrow, so the >2^53 float64-rendering hazard that
    ``canon_int_keys`` guards against never arises here."""
    import pyarrow as pa

    if pa.types.is_floating(arr.type):
        arr = pa.array(canon_int_keys(arr.to_numpy(zero_copy_only=False)))
    return metro64_flat(*to_flat_bytes(arr), seed)


def present_mask(arr) -> np.ndarray:
    """bool mask of the present (not NULL, not NaN) slots of an Arrow
    key array: the missing-key rule of :func:`present_hashes`."""
    import pyarrow.compute as pc

    return pc.invert(pc.is_null(arr, nan_is_null=True)).to_numpy(
        zero_copy_only=False)


def present_hashes(arr, prehashed: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """(present mask, uint64 hashes of the present keys) of one key batch
    — THE key step of every build partial, probe UDF and driver item
    API. A driver batch (Series, list, ndarray) goes through ``pa.array``.

    A key is missing when it is NULL or, in a floating array, NaN: it is
    never stored and never a member (a NULL string slot has zero length
    and would hash as ``''``; a NULL number has no bytes). The present
    keys hash with :func:`arrow_key_hashes`, or, when ``prehashed`` (the
    column already holds a JVM 64-bit hash such as ``F.xxhash64``), are
    viewed as uint64."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    elif not isinstance(arr, pa.Array):
        arr = pa.array(arr)
    mask = present_mask(arr)
    keys = arr if mask.all() else arr.filter(pa.array(mask))
    if prehashed:
        return mask, np.asarray(keys.to_numpy(zero_copy_only=False),
                                dtype=np.int64).view(np.uint64)
    return mask, arrow_key_hashes(keys)


# --- xxHash64 of a single 64-bit word ---------------------------------------
# Shard-id derivation needs a hash INDEPENDENT of the filter hash whose
# bits feed bucket index (hi32) and tag (lo32): taking shard bits from
# the same word confines each shard's index space to a slice once
# log2(S) + log2(num_buckets) > 32 (ADVICE r3). This is xxHash64 for an
# 8-byte input, from the published spec (Yann Collet, BSD) — the same
# specialization Spark's XXH64.hashLong implements — with Spark's
# default seed 42, so F.xxhash64(<long col>) is the JVM-side equivalent
# (parity pinned by test_sharded.test_shard_hash_jvm_parity).

_XP1 = np.uint64(0x9E3779B185EBCA87)
_XP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XP3 = np.uint64(0x165667B19E3779F9)
_XP4 = np.uint64(0x85EBCA77C2B2AE63)
_XP5 = np.uint64(0x27D4EB2F165667C5)
SPARK_XXHASH64_SEED = 42


def _rotl_np(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64_long_batch(h: np.ndarray, seed: int = SPARK_XXHASH64_SEED) -> np.ndarray:
    """uint64[n] → uint64[n]: xxHash64 of each 64-bit word (8-byte-input
    specialization; matches Spark's ``xxhash64`` over a long column at
    the default seed)."""
    h = h.astype(np.uint64, copy=False)
    acc = np.uint64((seed + 0x27D4EB2F165667C5 + 8) & _MASK64)
    out = acc ^ (_rotl_np(h * _XP2, 31) * _XP1)
    out = _rotl_np(out, 27) * _XP1 + _XP4
    out ^= out >> np.uint64(33)
    out *= _XP2
    out ^= out >> np.uint64(29)
    out *= _XP3
    out ^= out >> np.uint64(32)
    return out


# Cap on the dense [n, maxlen] pad buffer _metro64_flat_masked
# allocates: one long outlier row in a large Arrow batch would
# otherwise inflate it to n·maxlen bytes (10k docs + one 1 MB doc =
# ~10 GB of zeros) regardless of actual data size. 1 GiB keeps every
# url-scale workload (8M × ~72 B ≈ 0.6 GB) on the single-pass fast
# path; only outlier-heavy batches pay the sort+chunk detour.
_PAD_BUDGET = 1 << 30


def _gather_rows(flat: np.ndarray, starts: np.ndarray, lens: np.ndarray,
                 idx: np.ndarray) -> np.ndarray:
    """Concatenate the byte ranges of the selected rows (vectorized)."""
    L = lens[idx]
    total = int(L.sum())
    if total == 0:
        return np.zeros(0, dtype=np.uint8)
    rep_starts = np.repeat(starts[idx], L)
    csum = np.cumsum(L)
    offs = np.arange(total, dtype=np.int64) - np.repeat(csum - L, L)
    return flat[rep_starts + offs]


def metro64_flat(flat: np.ndarray, lens: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Masked variable-length kernel. (A length-grouped variant with
    per-group fixed-length slicing was benchmarked and lost: the per-
    group row gather costs more than the masked tail phases when length
    classes are few, which is the url-workload case.)

    When the dense pad buffer would exceed _PAD_BUDGET (long-document
    outliers), rows are sorted by length and hashed in chunks whose
    individual pad area stays under the budget — bit-identical output
    (the hash is per-row), bounded memory."""
    n = len(lens)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    maxlen = int(lens.max())
    width = maxlen + 8
    width += (-width) % 8
    if n * width <= _PAD_BUDGET:
        return _metro64_flat_masked(flat, lens, seed)
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    order = np.argsort(lens, kind="stable")
    slens = lens[order]
    out = np.empty(n, dtype=np.uint64)
    i = 0
    while i < n:
        # largest j with (j-i)·(pad width of longest row in chunk) ≤
        # budget; lens sorted, so the area is monotone in j → bsearch.
        # A single row over budget by itself runs alone (its pad buffer
        # is ~the row's own size; no smaller unit exists).
        lo, hi = i + 1, n
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if (mid - i) * (int(slens[mid - 1]) + 16) <= _PAD_BUDGET:
                lo = mid
            else:
                hi = mid - 1
        idx = order[i:lo]
        out[idx] = _metro64_flat_masked(
            _gather_rows(flat, starts, lens, idx), lens[idx], seed)
        i = lo
    return out


def _metro64_flat_masked(flat: np.ndarray, lens: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    n = len(lens)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    buf = _pad_rows(flat, lens)
    u64buf = buf.view(np.uint64)  # [n, width//8] aligned lanes

    h = np.full(n, (((seed + _K2) * _K0) & _MASK64), dtype=np.uint64)
    remaining = lens.copy()
    off = np.zeros(n, dtype=np.int64)

    # --- 32-byte block loop, batched across rows that still have blocks ---
    has_blocks = lens >= 32
    if has_blocks.any():
        rows = np.nonzero(has_blocks)[0]
        nblocks = (lens[rows] // 32).astype(np.int64)
        maxb = int(nblocks.max())
        if maxb == 1:
            # url-length fast path: every block row has exactly one block
            # → no (4, n) state array, no per-round gather/scatter
            hr = h[rows]
            v0 = _rotr_np(hr + u64buf[rows, 0] * _NK0, 29) + hr
            v1 = _rotr_np(hr + u64buf[rows, 1] * _NK1, 29) + hr
            v2 = _rotr_np(hr + u64buf[rows, 2] * _NK2, 29) + v0
            v3 = _rotr_np(hr + u64buf[rows, 3] * _NK3, 29) + v1
        else:
            v = np.repeat(h[None, :], 4, axis=0).copy()  # v0..v3
            for blk in range(maxb):
                act = nblocks > blk
                r = rows[act]
                lane0 = (blk * 32) // 8
                w0 = u64buf[r, lane0]
                w1 = u64buf[r, lane0 + 1]
                w2 = u64buf[r, lane0 + 2]
                w3 = u64buf[r, lane0 + 3]
                b0 = v[0, r] + w0 * _NK0
                b0 = _rotr_np(b0, 29) + v[2, r]
                b1 = v[1, r] + w1 * _NK1
                b1 = _rotr_np(b1, 29) + v[3, r]
                b2 = v[2, r] + w2 * _NK2
                b2 = _rotr_np(b2, 29) + b0
                b3 = v[3, r] + w3 * _NK3
                b3 = _rotr_np(b3, 29) + b1
                v[0, r] = b0
                v[1, r] = b1
                v[2, r] = b2
                v[3, r] = b3
            v0, v1, v2, v3 = v[0, rows], v[1, rows], v[2, rows], v[3, rows]
        v2 = v2 ^ (_rotr_np((v0 + v3) * _NK0 + v1, 37) * _NK1)
        v3 = v3 ^ (_rotr_np((v1 + v2) * _NK1 + v0, 37) * _NK0)
        v0 = v0 ^ (_rotr_np((v0 + v2) * _NK0 + v3, 37) * _NK1)
        v1 = v1 ^ (_rotr_np((v1 + v3) * _NK1 + v2, 37) * _NK0)
        h[rows] = h[rows] + (v0 ^ v1)
        off[rows] = nblocks * 32
        remaining[rows] = lens[rows] - off[rows]

    # --- 16-byte tail ---
    m = remaining >= 16
    if m.any():
        r = np.nonzero(m)[0]
        w0 = _read_u64_at(u64buf, r, off[r], 8)
        w1 = _read_u64_at(u64buf, r, off[r] + 8, 8)
        v0 = h[r] + w0 * _NK2
        v0 = _rotr_np(v0, 29) * _NK3
        v1 = h[r] + w1 * _NK2
        v1 = _rotr_np(v1, 29) * _NK3
        v0 = v0 ^ (_rotr_np(v0 * _NK0, 21) + v1)
        v1 = v1 ^ (_rotr_np(v1 * _NK3, 21) + v0)
        h[r] = h[r] + v1
        off[r] += 16
        remaining[r] -= 16

    # --- 8-byte tail ---
    m = remaining >= 8
    if m.any():
        r = np.nonzero(m)[0]
        h[r] = h[r] + _read_u64_at(u64buf, r, off[r], 8) * _NK3
        off[r] += 8
        remaining[r] -= 8
        h[r] = h[r] ^ (_rotr_np(h[r], 55) * _NK1)

    # --- 4-byte tail ---
    m = remaining >= 4
    if m.any():
        r = np.nonzero(m)[0]
        h[r] = h[r] + _read_u64_at(u64buf, r, off[r], 4) * _NK3
        h[r] = h[r] ^ (_rotr_np(h[r], 26) * _NK1)
        off[r] += 4
        remaining[r] -= 4

    # --- 2-byte tail ---
    m = remaining >= 2
    if m.any():
        r = np.nonzero(m)[0]
        h[r] = h[r] + _read_u64_at(u64buf, r, off[r], 2) * _NK3
        off[r] += 2
        remaining[r] -= 2
        h[r] = h[r] ^ (_rotr_np(h[r], 48) * _NK1)

    # --- 1-byte tail ---
    m = remaining >= 1
    if m.any():
        r = np.nonzero(m)[0]
        h[r] = h[r] + buf[r, off[r]].astype(np.uint64) * _NK3
        h[r] = h[r] ^ (_rotr_np(h[r], 37) * _NK1)

    h = h ^ _rotr_np(h, 28)
    h = h * _NK0
    h = h ^ _rotr_np(h, 29)
    return h
