"""Benchmark of cuckoo_filter_spark through its public API.

    python3 perfbench/run.py --workload membership --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One process drives Spark at
``local[<cores>]`` with a sixth of MemTotal (1-4 GiB) as driver memory.
The workload's inputs are generated once from ``--seed``, untimed. Set-up
(a new Spark session, a scan of the inputs and a tiny build and probe
that make every Python worker import the package) is then done SETUP_REPS times and
its median reported. The workload's four operations then run in rounds
for ``--seconds`` and until each has two samples after a warm-up call
(see ``workloads.measure``), and each metric is taken from the median
sample.
``peak_rss_mb`` is the largest peak resident set of the driver and its
Python workers. Outputs are checked outside the timed region,
Spark and its JVM are shut down and every process the run started is
waited for.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics
(E2E below). ``--trace 1`` reports the per-layer metrics (LAYER below)
instead: it runs one round of the four operations with every Spark job
tagged with the span that caused it, then the contract queries of
``queries.py`` (streaming drains and operator/function pipelines, checked
against DuckDB), writes Spark's event log and the spans to
``perfbench/out/trace/<workload>-seed<seed>/``, and reports each span's
self time. It then runs one more round in a new session without the
event log or job tags; the difference of the two rounds is the tracing
overhead.

All scratch files (TMPDIR, java.io.tmpdir, spark.local.dir, generated
parquet) live in ``perfbench/out/tmp-<pid>/`` and are removed on exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from queries import QUERIES, STREAMING

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
SETUP_REPS = 3
EXIT_GRACE_S = 20.0

E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "build_keys_per_s": "keys/s",
    "packed_build_keys_per_s": "keys/s",
    "probe_rows_per_s": "rows/s",
    "fp_rate": "ratio",
    "bytes_per_key": "bytes/key",
    "sketch_build_s": "s",
}

SPANS = ("setup", "measure", "build.single", "build.packed", "query",
         "query.udf_setup", "query.probe", "sketches.build_sketches",
         "check", "layers")
OPS = ("build.single", "build.packed", "query", "sketches.build_sketches")

LAYER = {
    "hashing.metro64_keys_per_s": "keys/s",
    "kernel.insert_keys_per_s": "keys/s",
    "kernel.lookup_keys_per_s": "keys/s",
    "kernel.encode_single_mb_per_s": "MB/s",
    "kernel.encode_packed_mb_per_s": "MB/s",
    "kernel.decode_packed_mb_per_s": "MB/s",
    "kernel.kicks": "count",
    "build.single_s": "s",
    "build.packed_s": "s",
    "query.udf_setup_s": "s",
    "query.probe_s": "s",
    "build.partials": "count",
    "build.stored": "count",
    "build.load_factor": "ratio",
    "build.tasks": "count",
    "build.result_bytes": "bytes",
    "query.tasks": "count",
    "query.task_ms_max_over_median": "ratio",
    "sketches.build_sketches_s": "s",
    "sketches.partials": "count",
    "sketches.tree_merge": "count",
    "sketches.shuffle_write_bytes": "bytes",
    "sketches.result_bytes": "bytes",
    "sketches.task_ms_median": "ms",
    "spark.python_tasks": "count",
    "spark.task_ms_median": "ms",
    "spark.executor_run_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.spill_bytes": "bytes",
    "spark.jvm_peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
    **{f"self.{s}_s": "s" for s in SPANS},
    **{f"q.{q}_s": "s" for q in QUERIES},
    "streaming.drain_s": "s",
    "query_sum_s": "s",
}


T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def preflight() -> list[str]:
    """Everything the run needs, checked before any session starts."""
    missing = []
    if not os.path.isfile(os.path.join(ROOT, "cuckoo_filter_spark", "__init__.py")):
        missing.append(f"package cuckoo_filter_spark under {ROOT}")
    java_home = os.environ.get("JAVA_HOME")
    if not (shutil.which("java") or (
            java_home and os.access(os.path.join(java_home, "bin", "java"), os.X_OK))):
        missing.append("java (on PATH or under JAVA_HOME)")
    for mod in ("pyspark", "numpy", "pandas", "pyarrow", "duckdb"):
        if importlib.util.find_spec(mod) is None:
            missing.append(f"python module {mod}")
    return missing


def host_size() -> tuple[int, int]:
    """(cores, driver memory in MiB): a sixth of MemTotal, 1-4 GiB."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh
                   if line.startswith("MemTotal:"))
    return nproc, max(1024, min(4096, kib // 1024 // 6))


# ---------------------------------------------------------------- processes

def _proc_table() -> dict[int, tuple[int, str]]:
    """pid → (ppid, start time) of every live process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(d)] = (int(rest[1]), rest[19])
    return table


def descendants(pid: int) -> set[tuple[int, str]]:
    """(pid, start time) of every live descendant of ``pid``."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for p, (pp, _) in table.items():
        kids.setdefault(pp, []).append(p)
    out, todo = set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.add((c, table[c][1]))
            todo.append(c)
    return out


def _alive(procs: set[tuple[int, str]]) -> set[tuple[int, str]]:
    table = _proc_table()
    return {(p, st) for p, st in procs if table.get(p, (0, None))[1] == st}


def reap(procs: set[tuple[int, str]], grace_s: float) -> set[tuple[int, str]]:
    """Wait up to ``grace_s`` for ``procs`` to end, SIGKILL the rest and
    wait for them; returns those that had to be killed."""
    deadline = time.monotonic() + grace_s
    while _alive(procs) and time.monotonic() < deadline:
        time.sleep(0.05)
    killed = _alive(procs)
    for p, _ in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while _alive(killed) and time.monotonic() < deadline:
        time.sleep(0.05)
    return killed


def _hwm_kib(pid) -> int:
    """Peak resident set (VmHWM) of a live process, in KiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            return next(int(line.split()[1]) for line in fh
                        if line.startswith("VmHWM:"))
    except (OSError, StopIteration):
        return 0


def peak_rss_mib() -> tuple[float, float]:
    """(peak RSS of the driver and its Python workers, peak RSS of the
    JVM) in MiB, read while Spark is still up. The JVM's is kept apart:
    G1 sizes its heap by timing, so on identical runs it read 1.4 to
    2.2 GB on a 4-vCPU VM, while the Python side repeats within 2%."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm = gw.proc.pid if gw is not None else None
    python = [_hwm_kib("self")] + [_hwm_kib(p) for p, _ in descendants(os.getpid())
                                   if p != jvm]
    return max(python) / 1024, (_hwm_kib(jvm) if jvm else 0) / 1024


def shutdown_spark(spark) -> set[tuple[int, str]]:
    """Stop Spark, then end its JVM: py4j gateway shutdown, EOF on the
    JVM's stdin (the only signal it exits on), and a bounded wait.
    Returns the processes Spark had started (JVM, pyspark.daemon,
    workers) so the caller can check none survives."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return started
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=EXIT_GRACE_S)
    except subprocess.TimeoutExpired:
        log("JVM still alive after stdin EOF; killing its process tree")
        reap(descendants(proc.pid), 0)
        proc.kill()
        proc.wait(timeout=10)
    return started


def new_session(nproc: int, mem_mib: int, tmp: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{nproc}]")
         .appName("perfbench")
         .config("spark.driver.memory", f"{mem_mib}m")
         .config("spark.local.dir", tmp)
         .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", str(2 * nproc))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true"))
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ------------------------------------------------------------------ metrics

def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def op_seconds(tr) -> float:
    """Sum over the four operations of each one's median wall time."""
    return sum(statistics.median(tr.durations(op)) for op in OPS)


def e2e_metrics(tr, inp, res, peak_rss_mb: float) -> dict:
    from workloads import fp_rate

    med = lambda name: statistics.median(tr.durations(name))  # noqa: E731
    single = res.single[-1]
    vals = {
        "setup_s": med("setup"),
        "peak_rss_mb": peak_rss_mb,
        "build_keys_per_s": inp.rows / med("build.single"),
        "packed_build_keys_per_s": inp.rows / med("build.packed"),
        "probe_rows_per_s": (inp.rows + inp.absent_rows) / med("query"),
        "fp_rate": statistics.median(fp_rate(p) for p in res.probes),
        "bytes_per_key": len(single.blob) / single.kernel().size(),
        "sketch_build_s": med("sketches.build_sketches"),
    }
    return {k: metric(v, E2E[k]) for k, v in vals.items()}


def layer_report(tr, inp, res, layers: dict, event_dir: str,
                 overhead_pct: float) -> dict:
    from tracing import event_log_by_span, median_or_zero, merge_stats
    from workloads import build_counts, sketch_counts

    by_span = event_log_by_span(event_dir)
    empty = merge_stats([])
    # spans whose Spark jobs make up each operation's task statistics
    job_spans = ("build.single", "build.packed", "query.probe",
                 "sketches.build_sketches")

    def stats(name: str) -> list[dict]:
        return [by_span.get(s["id"], empty) for s in tr.spans
                if s["name"] == name]

    def per(name: str, fn) -> float:
        """Median over the samples of ``name`` of ``fn(task stats)``."""
        return median_or_zero([fn(st) for st in stats(name)])

    def per_pass(key: str) -> float:
        """One pass of the four operations: the sum of their medians."""
        return sum(per(name, lambda st: st[key]) for name in job_spans)

    def ratio_max_median(st) -> float:
        ms = st["python_task_ms"]
        return max(ms) / max(statistics.median(ms), 1) if ms else 0.0

    every_task = merge_stats([st for name in job_spans for st in stats(name)])
    self_t = tr.self_times()
    vals = {
        **layers,
        "build.single_s": median_or_zero(tr.durations("build.single")),
        "build.packed_s": median_or_zero(tr.durations("build.packed")),
        "query.udf_setup_s": median_or_zero(tr.durations("query.udf_setup")),
        "query.probe_s": median_or_zero(tr.durations("query.probe")),
        **build_counts(res.single[-1]),
        "build.tasks": per("build.single", lambda st: st["tasks"]),
        "build.result_bytes": per("build.single", lambda st: st["result_bytes"]),
        "query.tasks": per("query.probe", lambda st: st["tasks"]),
        "query.task_ms_max_over_median": per("query.probe", ratio_max_median),
        "sketches.build_sketches_s": median_or_zero(
            tr.durations("sketches.build_sketches")),
        **sketch_counts(inp),
        "sketches.shuffle_write_bytes": per(
            "sketches.build_sketches", lambda st: st["shuffle_write_bytes"]),
        "sketches.result_bytes": per(
            "sketches.build_sketches", lambda st: st["result_bytes"]),
        "sketches.task_ms_median": per(
            "sketches.build_sketches",
            lambda st: median_or_zero(st["python_task_ms"])),
        "spark.python_tasks": per_pass("python_tasks"),
        "spark.task_ms_median": median_or_zero(every_task["python_task_ms"]),
        "spark.executor_run_ms": per_pass("executor_run_ms"),
        "spark.gc_ms": per_pass("gc_ms"),
        "spark.spill_bytes": per_pass("spill_bytes"),
        "trace.overhead_pct": overhead_pct,
        **{f"self.{s}_s": median_or_zero(self_t.get(s, [])) for s in SPANS},
        **{f"q.{q}_s": median_or_zero(tr.durations(f"q.{q}")) for q in QUERIES},
        "streaming.drain_s": sum(
            median_or_zero(tr.durations(f"q.{q}")) for q in STREAMING),
        "query_sum_s": sum(
            median_or_zero(tr.durations(f"q.{q}")) for q in QUERIES),
    }
    return {k: metric(vals[k], LAYER[k]) for k in LAYER}


# --------------------------------------------------------------------- main

def run(args, nproc: int, mem_mib: int, tmp: str) -> tuple[dict, int, int, list[str]]:
    from queries import check_queries, generate_tables, run_queries
    from tracing import Tracer
    from workloads import (WORKLOADS, Results, check, warm_workers,
                           layer_metrics, measure)

    trace_dir = os.path.join(OUT, "trace", f"{args.workload}-seed{args.seed}")
    event_dir = os.path.join(trace_dir, "eventlog") if args.trace else None
    if event_dir:
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(event_dir)
    generate, load = WORKLOADS[args.workload]
    data_dir = os.path.join(tmp, "inputs")
    sf_dir = os.path.join(data_dir, "tables")
    tr = Tracer(jobs=bool(args.trace))
    untraced = Tracer()  # the trace run's round without tracing
    spark = None
    res, errors = Results(), []
    layers: dict = {}
    answers: dict = {}
    try:
        # JVM start and input generation are not set-up of the system
        spark = new_session(nproc, mem_mib, tmp, None)
        log("Spark started")
        if generate is not None:
            generate(spark, args.seed, nproc, data_dir)
        if args.trace:
            generate_tables(args.seed, sf_dir)
        log("inputs generated")
        for _ in range(SETUP_REPS):
            spark.stop()
            tr.bind(None)
            with tr.span("setup"):
                spark = new_session(nproc, mem_mib, tmp, event_dir)
                tr.bind(spark.sparkContext)
                inp = load(spark, args.seed, nproc, data_dir)
                warm_workers(spark, nproc)
        log("set-up done")
        log(f"{args.workload}: {inp.rows} present + {inp.absent_rows} absent "
            f"rows, {inp.slices} sketch slices")
        with tr.span("measure"):
            if args.trace:
                measure(spark, inp, tr, 0, res, samples=1)
            else:
                measure(spark, inp, tr, args.seconds, res)
        log("measured: " + "; ".join(
            f"{op} " + " ".join(f"{d:.3f}" for d in tr.durations(op))
            for op in OPS))
        if args.trace:
            answers = run_queries(spark, sf_dir, tr)
            log("queries: " + " ".join(
                f"{q} {tr.durations(f'q.{q}')[0]:.3f}" for q in QUERIES))
            with tr.span("layers"):
                layers = layer_metrics(inp)
            # the same round again, in a session without event log or tags
            spark.stop()
            tr.bind(None)
            spark = new_session(nproc, mem_mib, tmp, None)
            inp = load(spark, args.seed, nproc, data_dir)
            warm_workers(spark, nproc)
            measure(spark, inp, untraced, 0, res, samples=1)
            log("untraced round: " + " ".join(
                f"{op} {untraced.durations(op)[0]:.3f}" for op in OPS))
        with tr.span("check"):
            errors = check(inp, res)
            if args.trace:
                errors += check_queries(answers, sf_dir)
        log("outputs checked")
        peak_rss, jvm_rss = peak_rss_mib()
        layers["spark.jvm_peak_rss_mb"] = jvm_rss
    except Exception:  # one failed operation fails the run, loudly
        errors.append(traceback.format_exc())
    finally:
        started = shutdown_spark(spark)
    killed = reap(started, EXIT_GRACE_S)
    log("Spark stopped")
    attempted = sum(1 for t in (tr, untraced) for s in t.spans
                    if s["name"].removesuffix(".warm-up") in OPS
                    or s["name"].startswith("q."))
    if killed:
        errors.append(f"{len(killed)} process(es) outlived Spark shutdown "
                      f"and were killed: {sorted(p for p, _ in killed)}")
    if errors:
        attempted = max(attempted, 1)
        return {}, attempted, min(attempted, len(errors)), errors
    if not args.trace:
        return e2e_metrics(tr, inp, res, peak_rss), attempted, 0, []
    tr.write(os.path.join(trace_dir, "spans.json"))
    overhead = 100.0 * (op_seconds(tr) / op_seconds(untraced) - 1.0)
    return (layer_report(tr, inp, res, layers, event_dir, overhead),
            attempted, 0, [])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = preflight()
    if missing:
        log("cannot run, missing: " + "; ".join(missing))
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2

    nproc, mem_mib = host_size()
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(OUT, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_GRAFT_TMP": tmp,
        # every JVM, spark-submit's launcher too: temp files in tmp, and no
        # hsperfdata file under the system /tmp
        "JAVA_TOOL_OPTIONS": " ".join(
            o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if o),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        metrics, attempted, failed, errors = run(args, nproc, mem_mib, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for e in errors:
        log("FAILED: " + e)
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
