#!/usr/bin/env python
"""Extra benchmarks for the optimization round (bench.py is FROZEN for
measurement — this file carries per-query repeats and
.explain("formatted") capture; layer-by-layer timing lives in
perfbench/run.py --trace 1).

Usage:
  python bench_extra.py queries [name ...]   # time queries (best/median of R)
  python bench_extra.py plans TAG [name ...] # write plans/r07/<q>_TAG.txt

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_EXTRA_REPEATS.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEATS = int(os.environ.get("SPARK_GRAFT_EXTRA_REPEATS", "3"))
PLANS_DIR = os.path.join(REPO, "plans", "r07")


def make_spark():
    import bench

    return bench.make_spark(CPUS)


def warm(spark):
    import __spark_entry__ as em

    em.entry(spark).collect()


def run_queries(names):
    import __spark_entry__ as em

    spark = make_spark()
    warm(spark)
    qs = em.queries()
    names = names or list(qs)
    out = {}
    for name in names:
        fn = qs[name]
        times = []
        for _ in range(REPEATS):
            spark.sparkContext.setJobDescription(f"q:{name}")
            t0 = time.perf_counter()
            fn(spark, SF_DIR).collect()
            times.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(times), "med": sorted(times)[len(times) // 2],
                     "all": times}
        print(f"{name}: min={out[name]['min']} all={times}", flush=True)
    print(json.dumps({k: v["min"] for k, v in out.items()}))
    spark.stop()


def write_plans(tag, names):
    import __spark_entry__ as em

    os.makedirs(PLANS_DIR, exist_ok=True)
    spark = make_spark()
    warm(spark)
    qs = em.queries()
    names = names or list(qs)
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(PLANS_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print("wrote", path, flush=True)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        run_queries(sys.argv[2:])
    elif mode == "plans":
        write_plans(sys.argv[2], sys.argv[3:])
    else:
        raise SystemExit(f"unknown mode {mode}")
