"""Benchmark workloads: inputs made from the seed, the timed operations, and
the correctness checks that run outside the timed region.

Every workload runs the same four user operations on its own input shape:

1. ``build_cuckoo_filter`` with the single layout (b=4, f=16);
2. ``build_cuckoo_filter`` with the packed layout (b=4, f=9);
3. a probe of present and absent keys against both filters through
   ``might_contain_udf`` (one pass, two UDFs);
4. ``build_sketches`` (HLL, Bloom, count-min, theta and KLL in one scan).

``membership`` feeds them a URL table in one slice per core, so hashing
and the kernel do most of the work. ``many_partials`` feeds the sketches
a frame of 264 tiny slices (above the sketches' 256-partial tree-merge
threshold), so per-task dispatch, partial encode, the tree-merge Exchange
and the driver combine dominate. Its cuckoo builds and probe read the
same rows in one slice per core: each Python task costs about a quarter
of a core-second whatever its size (measured on a 4-vCPU VM: a no-op
``mapInPandas`` over the 264 slices takes 19-20 s, one ``build_sketches``
over them 13-24 s, at 20 or 2,000 rows a slice alike, the first call in a
session no slower than the second), and three more 264-task passes would
not fit the benchmark's time budget. For the same reason the sketches
over them get MIN_SAMPLES samples, not more.
"""

from __future__ import annotations

import hashlib
import math
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from cuckoo_filter_spark.hashing import canon_int_keys, metro64_batch
from cuckoo_filter_spark.kernel.filter import CuckooKernel
from cuckoo_filter_spark.operators.build import CuckooBuild, build_cuckoo_filter
from cuckoo_filter_spark.operators.query import might_contain_udf
from cuckoo_filter_spark.params import TABLE_PACKED, CuckooParams
from cuckoo_filter_spark.sketches import (
    BloomSketch,
    CountMinSketch,
    HLLSketch,
    KLLSketch,
    ThetaSketch,
)
from cuckoo_filter_spark.sketches.base import TREE_MERGE_AT, build_sketches
from cuckoo_filter_spark.sources.pages import synth_urls

MEMBERSHIP_KEYS = 1_000_000
MANY_SLICES = 264
MANY_ROWS_PER_SLICE = 2_000
PACKED_F = 9
HLL_P = 14
THETA_K = 4096
KLL_K = 200
MEMBER_SAMPLE = 20_000
# a 264-slice sketch build takes 13-24 s; a third one would not fit the
# benchmark's time budget
MIN_SAMPLES = 2
# how many standard errors an estimate may miss its exact value by
SIGMAS = 4.0


@dataclass
class Inputs:
    key: str
    rows: int            # present rows (duplicates included)
    absent_rows: int
    filters: object      # present rows, as the cuckoo builds scan them
    sketches: object     # present rows, as build_sketches scans them
    probe: object        # present ∪ absent, with a boolean ``member`` column
    slices: int = 0      # partitions of ``sketches``

    def __post_init__(self):
        self.slices = self.sketches.rdd.getNumPartitions()


@dataclass
class Results:
    """Every output of the timed operations, one entry per sample. A probe
    maps the member flag to (rows, single-filter hits, packed-filter hits)."""
    single: list = field(default_factory=list)    # CuckooBuild, b=4 f=16
    packed: list = field(default_factory=list)    # CuckooBuild, packed f=9
    probes: list = field(default_factory=list)
    sketches: list = field(default_factory=list)  # [hll, bloom, cms, theta, kll]


def sketch_specs(key: str, capacity: int) -> list[tuple]:
    return [
        (key, lambda: HLLSketch(p=HLL_P), "keys"),
        (key, lambda: BloomSketch(capacity=capacity, fpp=0.01), "keys"),
        (key, lambda: CountMinSketch(width=2048, depth=4), "keys"),
        (key, lambda: ThetaSketch(k=THETA_K), "keys"),
        ("n", lambda: KLLSketch(k=KLL_K), "numeric"),
    ]


def _inputs(key, filters, sketches, absent, slices=None) -> Inputs:
    """Inputs over ``filters`` (present rows) and ``absent``; one scan
    counts both."""
    probe = filters.select(key, F.lit(True).alias("member")).unionByName(
        absent.select(key, F.lit(False).alias("member")))
    if slices:
        probe = probe.coalesce(slices)
    n = dict(probe.groupBy("member").count().collect())
    return Inputs(key, n.get(True, 0), n.get(False, 0), filters, sketches,
                  probe)


def generate_membership(spark, seed: int, nproc: int, data_dir: str) -> None:
    """URLs from ``synth_urls`` (one slice per core), plus as many absent
    URLs on a host name ``synth_urls`` never emits
    (``absent<n>.example.test``), so the two sets are disjoint; both are
    written to parquet under ``data_dir``."""
    synth_urls(spark, MEMBERSHIP_KEYS, seed=seed, num_partitions=nproc
               ).withColumn("n", F.length("url").cast("double")
                            ).write.parquet(f"{data_dir}/present")
    spark.range(0, MEMBERSHIP_KEYS, 1, nproc).select(F.concat(
        F.lit("https://absent"), (F.col("id") % 10_000).cast("string"),
        F.lit(".example.test/p/"),
        F.hex(F.xxhash64(F.col("id"), F.lit(seed))), F.lit("-"),
        F.col("id").cast("string")).alias("url")
    ).write.parquet(f"{data_dir}/absent")


def load_membership(spark, seed: int, nproc: int, data_dir: str) -> Inputs:
    present = spark.read.parquet(f"{data_dir}/present")
    absent = spark.read.parquet(f"{data_dir}/absent")
    return _inputs("url", present, present, absent)


def load_many_partials(spark, seed: int, nproc: int, data_dir: str) -> Inputs:
    """A JVM-generated ``spark.range`` frame of MANY_SLICES slices. Present
    keys are even and absent keys odd offsets of a seed-chosen base, so
    the two sets are disjoint."""
    n = MANY_SLICES * MANY_ROWS_PER_SLICE
    base = (seed * 0x9E3779B97F4A7C15 % (1 << 40)) * 2
    rng = spark.range(0, n, 1, MANY_SLICES)
    present = rng.select((F.lit(base) + 2 * F.col("id")).alias("key"),
                         ((F.col("id") * 7919) % 1000).cast("double").alias("n"))
    absent = rng.select((F.lit(base) + 2 * F.col("id") + 1).alias("key"))
    return _inputs("key", present.coalesce(nproc), present, absent, nproc)


# workload → (input generator run once, untimed or None; loader run in
# every set-up)
WORKLOADS = {
    "membership": (generate_membership, load_membership),
    "many_partials": (None, load_many_partials),
}


def warm_workers(spark, nproc: int) -> None:
    """One tiny build and probe, so that every Python worker imports the
    package and has run the probe path once, as a user's first query in a
    session does (without it, the first probe of a run took up to 60%
    longer than the next)."""
    frame = spark.range(0, 10_000, 1, nproc)
    mc = might_contain_udf(spark, build_cuckoo_filter(frame, "id"))
    frame.select(F.sum(mc(F.col("id")).cast("int"))).collect()


def measure(spark, inp: Inputs, tr, seconds: float, res: Results,
            samples: int = MIN_SAMPLES) -> None:
    """The four timed operations in rounds, so that each operation's
    samples spread over the whole run and a burst of load on the host
    skews few of them. Rounds repeat until ``seconds`` have passed and
    each operation has ``samples`` samples. The first call of an
    operation shorter than ``seconds`` is a warm-up, kept as span
    ``<name>.warm-up``: on a 4-vCPU VM it ran 30-45% slower than the
    next ones, even after the toy-size warm-up of set-up, and would set
    the median. Outputs of every call are appended to ``res``."""

    def probe():
        with tr.span("query.udf_setup"):
            mc_single = might_contain_udf(spark, res.single[-1])
            mc_packed = might_contain_udf(spark, res.packed[-1])
        with tr.span("query.probe"):
            rows = (inp.probe
                    .select("member",
                            mc_single(F.col(inp.key)).cast("int").alias("s"),
                            mc_packed(F.col(inp.key)).cast("int").alias("p"))
                    .groupBy("member")
                    .agg(F.count(F.lit(1)).alias("rows"),
                         F.sum("s").alias("s"), F.sum("p").alias("p"))
                    .collect())
        return {r["member"]: (r["rows"], r["s"], r["p"]) for r in rows}

    ops = [
        ("build.single", lambda: build_cuckoo_filter(inp.filters, inp.key),
         res.single),
        ("build.packed", lambda: build_cuckoo_filter(
            inp.filters, inp.key, bits_per_item=PACKED_F,
            table_type=TABLE_PACKED), res.packed),
        ("query", probe, res.probes),
        ("sketches.build_sketches", lambda: build_sketches(
            inp.sketches, sketch_specs(inp.key, inp.rows)), res.sketches),
    ]
    called: set[str] = set()
    deadline = time.perf_counter() + seconds
    while True:
        for name, fn, out in ops:
            if (len(tr.durations(name)) >= samples
                    and time.perf_counter() >= deadline):
                continue
            with tr.span(name) as s:
                out.append(fn())
            if name not in called:
                called.add(name)
                if s["end"] - s["start"] < seconds:
                    s["name"] = f"{name}.warm-up"
        if (time.perf_counter() >= deadline
                and all(len(tr.durations(n)) >= samples for n, _, _ in ops)):
            return


def _fp_limit(build: CuckooBuild, absent_rows: int) -> int:
    """The most false positives accepted on ``absent_rows`` probes: the
    expected count at rate 2b·load/2^f, plus 6σ."""
    p = build.params
    mean = (absent_rows * 2 * p.tags_per_bucket * build.kernel().load_factor()
            / (1 << p.bits_per_item))
    return int(mean + 6 * math.sqrt(mean) + 3)


def check(inp: Inputs, res: Results) -> list[str]:
    """Correctness of every sample's output; returns the failures.

    Runs outside the timed region: exact distinct count and ranks (one
    JVM aggregate) and a member sample collected to the driver."""
    errors: list[str] = []
    if not (res.single and res.packed and res.probes and res.sketches):
        return ["an operation produced no output"]
    x = float(res.sketches[-1][4].quantile(0.5))
    exact, below, rank = inp.filters.select(
        F.countDistinct(inp.key),
        F.avg((F.col("n") < F.lit(x)).cast("double")),
        F.avg((F.col("n") <= F.lit(x)).cast("double"))).collect()[0]
    sample = (inp.filters.select(inp.key).limit(MEMBER_SAMPLE)
              .toPandas()[inp.key])
    h_sample = metro64_batch(canon_int_keys(sample))
    limits = {}
    for name, builds in (("single", res.single), ("packed", res.packed)):
        if not all(isinstance(b, CuckooBuild) for b in builds):
            errors.append(f"{name}: build routed away from CuckooBuild")
            continue
        if len({hashlib.sha1(b.blob).digest() for b in builds}) != 1:
            errors.append(f"{name}: repeated builds gave different blobs")
        limits[name] = _fp_limit(builds[0], inp.absent_rows)
        if not builds[0].kernel().contain(sample).all():
            errors.append(f"{name}: false negative on member sample")
    for i, probe in enumerate(res.probes):
        present, absent = probe.get(True), probe.get(False)
        if present != (inp.rows, inp.rows, inp.rows):
            errors.append(f"probe {i}: {present} (rows, single, packed hits) "
                          f"on {inp.rows} present rows")
        if absent is None or absent[0] != inp.absent_rows:
            errors.append(f"probe {i}: {absent} on {inp.absent_rows} absent rows")
            continue
        for name, hits in (("single", absent[1]), ("packed", absent[2])):
            if name in limits and hits > limits[name]:
                errors.append(f"probe {i} {name}: {hits} false positives, "
                              f"limit {limits[name]}")
    for i, (hll, bloom, cms, theta, _kll) in enumerate(res.sketches):
        for name, sk in (("hll", hll), ("theta", theta)):
            if abs(sk.estimate() - exact) > SIGMAS * sk.relative_error() * exact:
                errors.append(f"sketches {i} {name}: estimate "
                              f"{sk.estimate():.0f} vs exact {exact}")
        if not bloom.contains_hashed(h_sample).all():
            errors.append(f"sketches {i} bloom: false negative on member sample")
        if not (cms.query_hashed(h_sample) >= 1).all():
            errors.append(f"sketches {i} count-min: member estimate below 1")
    if not below - 0.01 <= 0.5 <= rank + 0.01:
        errors.append(f"kll: median {x} has exact rank [{below}, {rank}]")
    return errors


def fp_rate(probe: dict) -> float:
    """False-positive share of the absent set against the packed (f=9)
    filter; at f=16 the count is too small to be steady across seeds."""
    return probe[False][2] / probe[False][0]


def layer_metrics(inp: Inputs) -> dict:
    """Driver-side hashing and kernel rates on up to 1M workload keys."""
    keys = inp.filters.select(inp.key).limit(1_000_000).toPandas()[inp.key]
    out = {}

    def timed(fn):
        t = time.perf_counter()
        r = fn()
        return r, time.perf_counter() - t

    keys = canon_int_keys(keys)
    h, t_hash = timed(lambda: metro64_batch(keys))
    out["hashing.metro64_keys_per_s"] = len(keys) / t_hash
    h = np.unique(h)
    cap = max(int(len(h) * 1.15), 64)
    single = CuckooKernel(CuckooParams.for_capacity(cap, 4, 16))
    idx, tag = single.params.split(h)
    _, t_ins = timed(lambda: single.add_unique_hashed(idx, tag))
    out["kernel.insert_keys_per_s"] = len(h) / t_ins
    out["kernel.kicks"] = float(single.kicks)
    _, t_look = timed(lambda: single.contain_hashed(idx, tag))
    out["kernel.lookup_keys_per_s"] = len(h) / t_look
    blob, t_enc = timed(single.to_bytes)
    out["kernel.encode_single_mb_per_s"] = len(blob) / 1e6 / t_enc
    packed = CuckooKernel(CuckooParams.for_capacity(cap, 4, PACKED_F,
                                                    TABLE_PACKED))
    packed.add_unique_hashed(*packed.params.split(h))
    pblob, t_penc = timed(packed.to_bytes)
    out["kernel.encode_packed_mb_per_s"] = len(pblob) / 1e6 / t_penc
    _, t_pdec = timed(lambda: CuckooKernel.from_bytes(pblob))
    out["kernel.decode_packed_mb_per_s"] = len(pblob) / 1e6 / t_pdec
    return out


def build_counts(build: CuckooBuild) -> dict:
    """The single build's partial count (``CuckooBuild.metrics``) and its
    merged filter's stored keys and load factor."""
    k = build.kernel()
    return {"build.partials": float(len(build.metrics)),
            "build.stored": float(k.size()),
            "build.load_factor": float(k.load_factor())}


def sketch_counts(inp: Inputs) -> dict:
    return {"sketches.partials": float(inp.slices),
            "sketches.tree_merge": float(inp.slices > TREE_MERGE_AT)}
