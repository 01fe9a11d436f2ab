"""Byte-reproducible builds under task retry.

Every build merges its partials in source-partition order, so a task
that fails and reruns must not change a single output byte. The child
process below runs at ``local[4,2]`` (local mode reads the task retry
budget from the master string, so the shared ``local[4]`` test session
cannot retry). Its input is a ``mapInArrow`` that raises on partition 1
whenever ``TaskContext.attemptNumber() == 0``: every job over it fails
one task and reruns it. Each build over that input must equal the same
build over the clean input."""

import hashlib
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sha(b: bytes) -> str:
    return hashlib.sha1(bytes(b)).hexdigest()


def _builds(spark, df, ckpt_dir: str) -> dict:
    from cuckoo_filter_spark.operators.build import build_cuckoo_filter
    from cuckoo_filter_spark.operators.checkpoint import build_checkpointed
    from cuckoo_filter_spark.operators.grouped import build_grouped_filters
    from cuckoo_filter_spark.operators.sharded import (
        build_sharded_cuckoo_filter,
    )
    from cuckoo_filter_spark.params import TABLE_PACKED, TABLE_VACUUM
    from cuckoo_filter_spark.sketches import (
        BloomSketch,
        HLLSketch,
        KLLSketch,
        ThetaSketch,
    )
    from cuckoo_filter_spark.operators import spread
    from cuckoo_filter_spark.sketches import base
    from cuckoo_filter_spark.sketches.base import build_sketches

    out = {
        "single": _sha(build_cuckoo_filter(df, "k").blob),
        "packed": _sha(build_cuckoo_filter(
            df, "k", table_type=TABLE_PACKED, bits_per_item=9).blob),
        "vacuum": _sha(build_cuckoo_filter(
            df, "k", table_type=TABLE_VACUUM).blob),
    }
    sh = build_sharded_cuckoo_filter(df, "k", num_shards=4)
    out["sharded"] = [_sha(sh.blobs[s]) for s in sorted(sh.blobs)]
    ck = build_checkpointed(df, "k", ckpt_dir, num_shards=4,
                            input_fingerprint="retry")
    blobs = ck.load_blobs(spark)
    out["checkpointed"] = [_sha(blobs[s]) for s in sorted(blobs)]
    out["grouped"] = sorted(
        (r["g"], _sha(r["blob"]))
        for r in build_grouped_filters(df, "g", "k").collect())
    specs = [("k", lambda: HLLSketch(p=12), "keys"),
             ("k", lambda: ThetaSketch(k=256), "keys"),
             ("k", lambda: BloomSketch(capacity=20_000), "keys"),
             ("v", lambda: KLLSketch(k=64), "numeric")]
    # the 8 input partitions coalesce to the 4 slots before the partial;
    # a size bound of 0 keeps all 8 partials
    default_at, default_max = base.TREE_MERGE_AT, spread.DEFAULT_SPREAD_MAX_BYTES
    for merge, at, max_bytes in (
            ("direct", default_at, default_max), ("tree", 2, default_max),
            ("direct.uncoalesced", default_at, 0), ("tree.uncoalesced", 2, 0)):
        base.TREE_MERGE_AT, spread.DEFAULT_SPREAD_MAX_BYTES = at, max_bytes
        try:
            sks = build_sketches(df, specs)
        finally:
            base.TREE_MERGE_AT = default_at
            spread.DEFAULT_SPREAD_MAX_BYTES = default_max
        for sk in sks:
            out[f"{type(sk).__name__}.{merge}"] = _sha(sk.to_bytes())
    return out


def _child(scratch: str) -> None:
    sys.path.insert(0, REPO)
    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.master("local[4,2]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "1g").getOrCreate())
    spark.sparkContext.setLogLevel("FATAL")
    marks = os.path.join(scratch, "marks")
    os.makedirs(marks)

    def source(fail: bool):
        def gen(batches):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            if fail and ctx.partitionId() == 1 and ctx.attemptNumber() == 0:
                open(os.path.join(marks, f"{ctx.taskAttemptId()}"),
                     "w").close()
                raise RuntimeError("injected first-attempt failure")
            yield from batches
        return gen

    idc = F.col("id")
    base_df = spark.range(0, 24_000, 1, 8).select(
        F.concat(F.lit("key-"), (idc * 7919) % 15_000).alias("k"),
        (idc % 5).alias("g"),
        (idc % 1000).cast("double").alias("v"))
    schema = base_df.schema
    res = {}
    for name, fail in (("clean", False), ("retried", True)):
        df = base_df.mapInArrow(source(fail), schema)
        res[name] = _builds(spark, df, os.path.join(scratch, name))
    res["failures"] = len(os.listdir(marks))
    spark.stop()
    print("RESULT " + json.dumps(res))


def test_builds_are_byte_identical_under_task_retry(tmp_path):
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(tmp_path)],
        capture_output=True, text=True, timeout=300)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")]
    assert r.returncode == 0 and lines, r.stdout[-2000:] + r.stderr[-4000:]
    res = json.loads(lines[-1][len("RESULT "):])
    clean, retried = res["clean"], res["retried"]
    # the ten build calls each ran at least one job over the input,
    # and each such job lost its first attempt on partition 1
    assert res["failures"] >= 10, res["failures"]
    assert [k for k in clean if clean[k] != retried[k]] == []
    # merge-law sketches: coalesced or not, direct or tree, one blob
    for name in ("HLLSketch", "ThetaSketch", "BloomSketch"):
        assert len({v for k, v in clean.items()
                    if k.startswith(name + ".")}) == 1, name


if __name__ == "__main__":
    _child(sys.argv[1])
