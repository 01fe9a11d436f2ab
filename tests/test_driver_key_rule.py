"""The one key rule on the driver: every filter and sketch item API
hashes raw keys through ``hashing.present_hashes``. A missing key (NULL,
or NaN in a float batch) is skipped, or answers False / 0, and an
integral double is the same key as its int64 value."""

import os
import re

import numpy as np
import pandas as pd
import pytest

from cuckoo_filter_spark.hashing import present_hashes
from cuckoo_filter_spark.kernel.filter import CuckooKernel, CuckooProbe
from cuckoo_filter_spark.operators.sharded import ShardedCuckooBuild, shard_of
from cuckoo_filter_spark.params import CuckooParams
from cuckoo_filter_spark.sketches import (
    BloomSketch,
    CountMinSketch,
    HLLSketch,
    ThetaSketch,
)
from cuckoo_filter_spark.sketches.freq import MGSketch

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARAMS = CuckooParams.for_capacity(256, 4, 16, 0)
STORED = (["a", "b", "c"], [1, 2, 3])  # what the delete/probe cases hold


def _kernel(*batches):
    k = CuckooKernel(PARAMS)
    for b in batches:
        k.add(b)
    return k


def _sharded(*batches):
    h = np.concatenate([present_hashes(b)[1] for b in batches])
    shard = shard_of(h, 2)
    blobs = {}
    for s in range(2):
        k = CuckooKernel(PARAMS)
        k.add_hashed(*PARAMS.split(h[shard == s]))
        blobs[s] = k.to_bytes()
    return ShardedCuckooBuild(params=PARAMS, num_shards=2, blobs=blobs)


def _updated(make, method="update"):
    def build(*batches):
        sk = make()
        for b in batches:
            getattr(sk, method)(b)
        return sk
    return build


def _deleted(items):
    k = _kernel(*STORED)
    k.delete(items)
    return k


_bloom = _updated(lambda: BloomSketch(capacity=64))
_cms = _updated(lambda: CountMinSketch(width=256, depth=3))

# name -> (build: items -> structure with to_bytes, or None for a
# read-only API; probe: items -> answers of a structure holding STORED,
# or None for an API with no item probe)
APIS = {
    "kernel.add": (_kernel, None),
    "kernel.add_unique": (
        _updated(lambda: CuckooKernel(PARAMS), "add_unique"), None),
    "kernel.delete": (_deleted, lambda items: _kernel(*STORED).delete(items)),
    "kernel.contain": (None, lambda items: _kernel(*STORED).contain(items)),
    "CuckooProbe.contain": (
        None,
        lambda items: CuckooProbe(_kernel(*STORED).to_bytes()).contain(items)),
    "ShardedCuckooBuild.contain": (
        None, lambda items: _sharded(*STORED).contain(items)),
    "bloom": (_bloom, lambda items: _bloom(*STORED).contains(items)),
    "hll": (_updated(lambda: HLLSketch(p=10)), None),
    "theta": (_updated(lambda: ThetaSketch(k=64)), None),
    "count-min": (_cms, lambda items: _cms(*STORED).query(items)),
    "mg": (_updated(lambda: MGSketch(k=16)), None),
}


@pytest.mark.parametrize("api", list(APIS))
def test_missing_keys_are_skipped(api):
    build, probe = APIS[api]
    if build is not None:
        for items, clean in ((pd.Series(["a", None, "c"]), ["a", "c"]),
                             (np.array(["a", None], dtype=object), ["a"]),
                             (pd.Series([1, None, 3], dtype="Int64"), [1, 3]),
                             (pd.Series([1.0, np.nan, 3.0]), [1, 3]),
                             (np.array([np.nan, 2.0]), [2]),
                             (pd.Series([None, None], dtype=object), [])):
            assert build(items).to_bytes() == build(clean).to_bytes(), items
    if probe is not None:
        # '' is not stored: a NULL string must not read as ''
        for items, hit in ((["a", None], [1, 0]),
                           (pd.Series([1.0, np.nan]), [1, 0]),
                           (pd.Series([None, 2], dtype="Int64"), [0, 1]),
                           (pd.Series(["", None]), [0, 0])):
            got = np.asarray(probe(items))
            assert (got > 0).astype(int).tolist() == hit, (items, got)


@pytest.mark.parametrize("api", list(APIS))
def test_integral_doubles_are_their_int64(api):
    build, probe = APIS[api]
    ints = np.array([1, 2, 3, 2**52 + 1], dtype=np.int64)
    if build is not None:
        assert (build(ints.astype(np.float64)).to_bytes()
                == build(ints).to_bytes() == build(list(ints)).to_bytes())
    if probe is not None:
        want = np.asarray(probe(np.array([1, 2, 3, 4])))
        assert (want > 0).tolist() == [True, True, True, False]
        assert np.asarray(probe(pd.Series([1.0, 2.0, 3.0, 4.0]))
                          ).tolist() == want.tolist()


def test_count_min_weights_follow_the_key_mask():
    sk = CountMinSketch(width=256, depth=3)
    sk.update(pd.Series(["x", None, "y"]), weights=[2, 5, 3])
    assert sk.query(["x", "y", None]).tolist() == [2, 3, 0]
    assert sk.total == 5


def test_one_key_rule_in_the_package():
    """``key_mask_and_values`` stays gone, and no filter, sketch,
    streaming or operator module hashes keys with the raw
    ``metro64_batch`` (no NULL rule): they go through
    ``hashing.present_hashes``."""
    pkg = os.path.join(REPO, "cuckoo_filter_spark")
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(root, f)
            sub = os.path.relpath(root, pkg).split(os.sep)[0]
            for i, line in enumerate(open(p), 1):
                if "key_mask_and_values" in line or (
                        sub in ("kernel", "sketches", "streaming", "operators")
                        and re.search(r"metro64_batch\b", line)):
                    hits.append(f"{p}:{i}")
    assert not hits, hits
