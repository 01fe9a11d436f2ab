"""Property tests for round-3 primitives (pure numpy/pandas, no Spark):
the grouped partial's distinct count vs pandas nunique,
canon_dedupe_pairs invariants,
choose_embedding_lsh sizing laws, multiprobe bucket expansion."""

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from cuckoo_filter_spark.operators.build import canon_dedupe_pairs
from cuckoo_filter_spark.sketches.base import GROUP_TAIL, _grouped_partial_fn
from cuckoo_filter_spark.operators.dedup import choose_embedding_lsh
from cuckoo_filter_spark.operators.similarity import _multiprobe_buckets
from cuckoo_filter_spark.params import CuckooParams, TABLE_VACUUM


@given(
    st.lists(
        st.lists(
            st.one_of(st.integers(-50, 50).map(float), st.just(-0.0),
                      st.just(float("nan")), st.just(None)),
            max_size=40),
        max_size=12),
)
@settings(max_examples=60, deadline=None)
def test_distinct_count_matches_nunique(batches):
    """The grouped Arrow partial's distinct count over arbitrary
    float/-0.0/NaN/None batches equals pandas nunique(dropna=True) over
    the concatenation — the exact COUNT(DISTINCT) contract."""
    rbs = [pa.record_batch({"k": pa.array(b, pa.float64())}) for b in batches]
    (out,) = _grouped_partial_fn([], None, None,
                                 pa.schema(GROUP_TAIL))(iter(rbs))
    allvals = [pd.Series(b, dtype="float64") for b in batches]
    want = (pd.concat(allvals).nunique(dropna=True) if allvals else 0)
    assert sum(out.column("n").to_pylist()) == want


@given(st.integers(0, 2**32 - 1), st.integers(1, 400))
@settings(max_examples=40, deadline=None)
def test_canon_dedupe_pairs_invariants(seed, n):
    """Idempotent; removes exactly the canonical duplicates; preserves
    the canonical membership set — for both pow2 and vacuum layouts."""
    rng = np.random.default_rng(seed)
    for params in (CuckooParams(4, 16, 1024),
                   CuckooParams(4, 16, 3 * 64, TABLE_VACUUM, 64)):
        bi = rng.integers(0, params.num_buckets, size=n).astype(np.int64)
        tags = rng.integers(1, 1 << 16, size=n).astype(np.uint32)
        # plant some orientation-flipped duplicates
        flip = rng.random(n) < 0.3
        alt = params.alt(bi, tags)
        bi2 = np.where(flip, alt, bi)
        db, dt = canon_dedupe_pairs(params, bi2, tags)
        db2, dt2 = canon_dedupe_pairs(params, db, dt)
        assert np.array_equal(db, db2) and np.array_equal(dt, dt2)

        def canon(b, t):
            a = params.alt(b, t)
            return set(((np.minimum(b, a).astype(np.uint64) << np.uint64(32))
                        | t).tolist())

        assert canon(db, dt) == canon(bi2, tags)
        assert len(db) == len(canon(bi2, tags))


@given(st.integers(100, 10**13), st.floats(0.5, 0.9999))
@settings(max_examples=80, deadline=None)
def test_choose_embedding_lsh_laws(n, threshold):
    """Clamps respected; below the plane clamp the mean bucket stays
    bounded; planes monotone in n at fixed threshold."""
    p, t = choose_embedding_lsh(n, threshold)
    assert 8 <= p <= 32 and 1 <= t <= 16
    if p < 32:
        assert n / (1 << p) <= 64 + 1e-9
    p_big, _ = choose_embedding_lsh(min(n * 1000, 10**16), threshold)
    assert p_big >= p


@given(st.integers(0, 2**40), st.integers(4, 16), st.integers(0, 2))
@settings(max_examples=60, deadline=None)
def test_multiprobe_buckets_expansion(base, n_planes, mph):
    """Column 0 is the base; every probed bucket is within hamming <=
    mph of the base over the n_planes bits; count matches 1 + p +
    C(p,2) truncated at mph."""
    base_arr = np.array([base & ((1 << n_planes) - 1)], dtype=np.int64)
    out = _multiprobe_buckets(base_arr, n_planes, mph)[0]
    expect = 1 + (n_planes if mph >= 1 else 0) + (
        n_planes * (n_planes - 1) // 2 if mph >= 2 else 0)
    assert len(out) == expect
    assert out[0] == base_arr[0]
    for v in out:
        assert bin(int(v) ^ int(base_arr[0])).count("1") <= mph
