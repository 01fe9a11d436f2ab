"""Shared sketch contract + the one partial → merge primitive.

Every sketch implements:
* ``update(items)`` — vectorized batch update (keys via the shared
  metro64 Arrow path; numeric sketches take numeric arrays directly)
* ``merge(other)`` — associative, commutative combine
* ``to_bytes()/from_bytes()`` — blob round-trip for shuffle/persist

Every build is a per-partition partial in mapInArrow followed by the
associative merge, like the cuckoo build. Ungrouped builds
(``build_sketch``/``build_sketches`` here, theta, MG, deferred Bloom)
run ``sketch_partials``; grouped builds (grouped filters and counts,
``count_distinct_exact``, HLL rollup/cube, grouped MG) run
``grouped_partials``. Every executor-side blob merge runs
``merge_groups``: applyInArrow per group, rows in ``partition_id``
order, so merged bytes do not depend on shuffle order.

An ungrouped partial runs one task per partition of its input, after
``operators.spread.coalesce_small_input``: a tiny input (size estimate
<= 512 MiB) in more partitions than the session has slots is coalesced
to the slots first (no Exchange), since each Python task has a fixed
cost whatever its size. Merge-law sketches (HLL, theta, Bloom,
count-min) give the same bytes either way; the coalesce grouping is
fixed per job, so retries are byte-identical (see the spread module
for when KLL/t-digest/MG bytes may regroup on a cluster). Partials are
collected and reduced on the driver, shuffle-free up to
``TREE_MERGE_AT`` partials (counted after the coalesce); above it (the
100 TB regime — 10^5-10^6 scan tasks would otherwise collect tens of
GB of blobs and run a serial million-iteration reduce loop on the
driver, VERDICT r6 #1) ONE tree level merges each of ~sqrt(P) groups
on executors first, and the driver reduces O(sqrt(P)) rows.
"""

from __future__ import annotations

import functools
import math
import time
from functools import reduce
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

#: partial-blob rows above this many partials (the partial stage's
#: partitions, counted after ``coalesce_small_input``) go through one
#: executor-side tree-merge level before the driver collect. At local/
#: bench partition counts the direct collect is faster and keeps the
#: pre-r7 plan byte-identical; at corpus scale (>= thousands of scan
#: tasks, never coalesced) the tree keeps the driver at O(sqrt(P)) rows.
TREE_MERGE_AT = 256


def _num_plan_partitions(df) -> int:
    """Partition count the mapInArrow partials will run with (driver-
    side only, no job)."""
    try:
        return df.rdd.getNumPartitions()
    except Exception:
        return 0


#: one row per (partition, sketch) of an ungrouped partial
PARTS_ROW = pa.schema([
    ("partition_id", pa.int32()), ("sketch_id", pa.int32()),
    ("rows", pa.int64()), ("wall_ms", pa.float64()), ("blob", pa.binary()),
])


def group_merger(merge: Callable[[pa.Table], list[dict]],
                 schema: pa.Schema):
    """The applyInArrow body of :func:`merge_groups`."""

    @functools.wraps(merge)
    def apply(t: pa.Table) -> pa.Table:
        return pa.Table.from_pylist(merge(t.sort_by("partition_id")),
                                    schema=schema)

    return apply


def merge_groups(parts, keys: list, merge: Callable[[pa.Table], list[dict]],
                 schema: pa.Schema):
    """THE executor-side blob merge: applyInArrow per group of ``keys``;
    ``merge`` gets the group's rows sorted by ``partition_id`` (the
    source partition) and returns its output rows as dicts of
    ``schema``. The sort makes the bytes independent of shuffle order:
    KLL, t-digest, Misra-Gries trims and the cuckoo kick loop are all
    order-sensitive."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return parts.groupBy(*keys).applyInArrow(group_merger(merge, schema),
                                             from_arrow_schema(schema))


def _tree_combiner(makes):
    """``tree_merge_level``'s merge: one (group, sketch_id)'s blobs."""

    def combine(t: pa.Table) -> list[dict]:
        sid = t["sketch_id"][0].as_py()
        proto = makes[sid]()
        for rows_n, blob in zip(t["rows"].to_pylist(), t["blob"].to_pylist()):
            if rows_n > 0:
                proto = proto.merge(type(proto).from_bytes(blob))
        return [{"partition_id": t["__g"][0].as_py(), "sketch_id": sid,
                 "rows": pc.sum(t["rows"]).as_py(),
                 "wall_ms": pc.max(t["wall_ms"]).as_py(),
                 "blob": proto.to_bytes()}]

    return combine


def tree_merge_level(parts_df, makes, n_groups: int):
    """ONE executor-side merge level over a partial-blob frame
    (``PARTS_ROW``): partials land in ``pmod(partition_id, n_groups)``
    merge groups, each group's blobs merge per sketch_id through
    :func:`merge_groups` (associativity is the pinned sketch merge law),
    and one row per (group, sketch) comes back — rows summed, wall_ms
    the group max, partition_id = the merge group id. Only blob rows
    cross the Exchange; raw keys are long gone."""
    from pyspark.sql import functions as F

    return merge_groups(
        parts_df.withColumn(
            "__g", F.pmod(F.col("partition_id"), F.lit(int(n_groups)))),
        ["__g", "sketch_id"], _tree_combiner(makes), PARTS_ROW)


def collect_and_merge(parts_df, makes, n_partitions: int):
    """Collect a partial-blob frame and merge per sketch_id in
    partition_id order.

    Returns (merged sketches in sketch_id order, collected rows).
    Up to ``TREE_MERGE_AT`` source partitions (read at call time):
    direct collect + driver reduce (the classic path, plan-identical to
    pre-r7). Above: one ``tree_merge_level`` of ceil(sqrt(P)) groups
    runs on executors and the driver reduces the O(sqrt(P)) group
    rows."""
    if n_partitions > TREE_MERGE_AT:
        parts_df = tree_merge_level(
            parts_df, makes, int(math.ceil(math.sqrt(n_partitions))))
    rows = sorted(parts_df.collect(), key=lambda r: r["partition_id"])
    merged = []
    for sid, make in enumerate(makes):
        proto = make()
        parts = (type(proto).from_bytes(bytes(r["blob"])) for r in rows
                 if r["sketch_id"] == sid and r["rows"] > 0)
        merged.append(reduce(lambda a, b: a.merge(b), parts, proto))
    return merged, rows


#: a grouped partial row after its group columns: source partition, the
#: group's count (present keys fed to its sketch, or distinct present
#: keys) and its blob
GROUP_TAIL = [("partition_id", pa.int32()), ("n", pa.int64()),
              ("blob", pa.binary())]


def group_schema(df, group_cols: list[str], tail: list) -> pa.Schema:
    """Arrow schema of ``df``'s ``group_cols`` then ``tail`` fields."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    head = to_arrow_schema(StructType([df.schema[c] for c in group_cols]))
    return pa.schema(list(head) + [pa.field(n, t) for n, t in tail])


def _distinct(t: pa.Table) -> pa.Table:
    for i, f in enumerate(t.schema):
        if pa.types.is_floating(f.type):  # SQL equality: -0.0 == 0.0
            c = t.column(i)
            t = t.set_column(i, f.name, pc.if_else(
                pc.equal(c, 0), pa.scalar(0, f.type), c))
    return t.group_by(t.column_names, use_threads=False).aggregate([])


class DistinctRows:
    """The exact distinct rows of a stream of Arrow tables — THE raw-key
    distinct of the counting partials. NULL is a value; -0.0 equals 0.0.
    Holds the partition's distinct rows: each table is deduped on
    arrival and the buffer re-deduped once it holds as many rows as the
    deduped base (amortized linear; a fixed threshold would re-dedupe
    the whole base every batch once the base outgrew it)."""

    CONSOLIDATE_AT = 4_000_000

    def __init__(self) -> None:
        self._parts: list[pa.Table] = []
        self._pending = 0  # buffered rows NOT yet in the deduped base
        self._base = 0

    def add(self, t: pa.Table) -> None:
        t = _distinct(t)
        self._parts.append(t)
        self._pending += t.num_rows
        if self._pending >= max(self.CONSOLIDATE_AT, self._base):
            self._consolidate()

    def _consolidate(self) -> None:
        t = _distinct(pa.concat_tables(self._parts)).combine_chunks()
        self._parts, self._base, self._pending = [t], t.num_rows, 0

    def table(self) -> pa.Table | None:
        """The distinct rows so far (None when nothing was added)."""
        if self._pending:
            self._consolidate()
        return self._parts[0] if self._parts else None

    def __len__(self) -> int:
        return self._base if self.table() is not None else 0


def _group_rows(t: pa.Table, cols: list[str]):
    """(group key tuple, row indices) per distinct value of ``cols``."""
    g = t.select(cols).append_column(
        "__i", pa.array(np.arange(t.num_rows))).group_by(
        cols, use_threads=False).aggregate([("__i", "list")])
    lists = g["__i_list"].combine_chunks()
    offs, idx = lists.offsets.to_numpy(), lists.values.to_numpy()
    for j, key in enumerate(zip(*(g[c].to_pylist() for c in cols))):
        yield key, idx[offs[j]:offs[j + 1]]


def _grouped_partial_fn(group_cols: list[str], make, hash_fn: str | None,
                        schema: pa.Schema):
    """The mapInArrow generator of :func:`grouped_partials`."""
    ng = len(group_cols)

    def partial(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        from cuckoo_filter_spark.hashing import present_hashes, present_mask

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        sks: dict[tuple, list] = {}  # sketch mode: group -> [sketch, n]
        seen = DistinctRows()  # distinct mode: (groups, __k[, __h]) rows
        for batch in batches:
            key = batch.column(ng)
            if hash_fn is None:
                present, h = present_mask(key), None
            else:
                present, h = present_hashes(key, hash_fn == "xxhash64")
            if make is not None:
                pos = None if h is None else np.cumsum(present) - 1
                t = pa.Table.from_batches([batch])
                for g, rows in _group_rows(t, group_cols):
                    acc = sks.get(g) or sks.setdefault(g, [make(), 0])
                    rows = rows[present[rows]]
                    if len(rows):
                        acc[1] += len(rows)
                        if h is None:
                            acc[0].update(key.take(rows).to_pandas())
                        else:
                            acc[0].update_hashed(h[pos[rows]])
                continue
            cols = [*batch.columns[:ng], key]
            if h is not None:  # hashing drops missing keys' rows
                m = pa.array(present)
                cols = [c.filter(m) for c in cols] + [pa.array(h)]
            elif not present.all():  # counting keeps their group (n 0)
                cols[-1] = pc.if_else(present, key, pa.scalar(None, key.type))
            seen.add(pa.table(cols, names=[*group_cols, "__k", "__h"][
                :len(cols)]))
        if make is not None:
            groups = [(*g, n, sk.to_bytes()) for g, (sk, n) in sks.items()]
        elif (d := seen.table()) is None:
            groups = []
        else:
            hashed = hash_fn is not None
            aggs = [("__k", "count")] + ([("__h", "list")] if hashed else [])
            g = d.group_by(group_cols, use_threads=False).aggregate(aggs)
            blobs = [None] * g.num_rows
            if hashed:
                lists = g["__h_list"].combine_chunks()
                offs = lists.offsets.to_numpy()
                vals = lists.values.to_numpy().astype("<u8")
                blobs = [vals[a:b].tobytes()
                         for a, b in zip(offs[:-1], offs[1:])]
            keys = (zip(*(g[c].to_pylist() for c in group_cols)) if ng
                    else [()] * g.num_rows)
            groups = [(*k, n, b) for k, n, b in
                      zip(keys, g["__k_count"].to_pylist(), blobs)]
        yield pa.RecordBatch.from_pylist(
            [dict(zip(schema.names, (*g[:ng], pid, *g[ng:])))
             for g in groups], schema=schema)

    return partial


def grouped_partials(df, group_cols: list[str], key_col: str, make=None,
                     hash_fn: str | None = None):
    """THE per-partition partial of every grouped build: one mapInArrow
    pass over ``df[group_cols + key_col]`` (on the partitioning it is
    given) emitting one row per (source partition, group): the group
    columns, then ``GROUP_TAIL``. Per batch the missing (NULL/NaN) keys
    are dropped and, with ``hash_fn``, the rest hashed ONCE
    (``hashing.present_hashes``; ``'xxhash64'``: the column already
    holds the JVM hash). Rows group in Arrow; NULL is a group value.

    * ``make`` — one sketch per group, fed ``update_hashed`` with the
      hashes, or without ``hash_fn`` ``update`` with the present values
      as pandas (MG's str identity). Every group seen emits (n = 0 when
      it had no present key).
    * no ``make`` — the group's distinct present keys
      (:class:`DistinctRows`; exact globally when the input is
      partitioned by (group, key)): n = their count. With ``hash_fn``
      the blob packs their ``<u8`` hashes and a group with no present
      key does not emit; without, the blob is NULL and such a group
      emits n = 0 (COUNT(DISTINCT) keeps it).
    """
    from pyspark.sql.pandas.types import from_arrow_schema

    sel = df.select(*group_cols, key_col)
    schema = group_schema(sel, group_cols, GROUP_TAIL)
    return sel.mapInArrow(
        _grouped_partial_fn(list(group_cols), make, hash_fn, schema),
        from_arrow_schema(schema))


_KINDS = ("keys", "numeric", "hashed")


def _partial_fn(specs: list[tuple], cols: list[str]):
    """The mapInArrow generator of ``sketch_partials``: one sketch per
    spec, fed batch by batch from ``cols`` (the projected columns in
    order), then one blob row per spec.

    Per batch, each column's present values are taken once and a keys
    column is hashed ONCE (``arrow_key_hashes``); that one uint64 array
    feeds every spec on the column through ``update_hashed``. Sketches
    without ``update_hashed`` (MG) get the values as pandas, and apply
    the same float rule themselves."""
    pos = {c: j for j, c in enumerate(cols)}

    def partial(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        from cuckoo_filter_spark.hashing import arrow_key_hashes, present_mask

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        sks = [make() for _, make, _ in specs]
        counts = [0] * len(specs)
        t0 = time.perf_counter()
        for batch in batches:
            vals: dict[str, pa.Array] = {}
            hashes: dict[str, np.ndarray] = {}
            for i, (col, _, kind) in enumerate(specs):
                if col not in vals:  # SQL aggregates skip NULL and NaN
                    c = batch.column(pos[col])
                    vals[col] = c.filter(pa.array(present_mask(c)))
                v = vals[col]
                if len(v) == 0:
                    continue
                counts[i] += len(v)
                sk = sks[i]
                if kind == "numeric":
                    # numpy, not pc.cast: Arrow rounds decimals
                    # differently from float(Decimal) and refuses
                    # integers beyond 2^53
                    sk.update(np.asarray(v.to_numpy(zero_copy_only=False),
                                         dtype=np.float64))
                elif kind == "hashed":
                    sk.update_hashed(np.asarray(
                        v.to_numpy(zero_copy_only=False),
                        dtype=np.int64).view(np.uint64))
                elif hasattr(sk, "update_hashed"):
                    if col not in hashes:
                        hashes[col] = arrow_key_hashes(v)
                    sk.update_hashed(hashes[col])
                else:
                    sk.update(v.to_pandas())
        wall = (time.perf_counter() - t0) * 1000.0
        n = len(sks)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([pid] * n, pa.int32()),
                pa.array(range(n), pa.int32()),
                pa.array(counts, pa.int64()),
                pa.array([wall] * n, pa.float64()),
                pa.array([sk.to_bytes() for sk in sks], pa.binary()),
            ],
            names=["partition_id", "sketch_id", "rows", "wall_ms", "blob"],
        )

    return partial


def sketch_partials(df, specs: list[tuple]):
    """(partial-blob frame, partial count): the ONE per-partition
    partial every ungrouped sketch build runs — one scan of ``df`` in
    mapInArrow, one sketch per spec fed batch by batch, one blob row per
    (partition, spec). The projected input goes through
    ``coalesce_small_input`` first, so a tiny over-partitioned ``df``
    runs as many partials as the session has slots.

    specs: (col, make_sketch, kind) triples, kind one of
    * ``keys`` — the column as keys, hashed once per batch by
      ``hashing.arrow_key_hashes`` (the cuckoo build's key identity;
      a float column must be integral, else TypeError);
    * ``numeric`` — a float64 array (quantile sketches);
    * ``hashed`` — a bigint column of metro64 hashes, fed to
      ``update_hashed``.
    NULLs (and NaNs) are excluded per spec. Columns may differ or
    repeat between specs; the scan projects each once.
    """
    if not specs:
        raise ValueError("sketch build needs at least one column")
    for _, _, kind in specs:
        if kind not in _KINDS:
            raise ValueError(f"sketch spec kind {kind!r} not in {_KINDS}")
    from pyspark.sql.pandas.types import from_arrow_schema

    from cuckoo_filter_spark.operators.spread import coalesce_small_input

    cols = list(dict.fromkeys(c for c, _, _ in specs))
    sel = df.select(*cols)
    inp = coalesce_small_input(sel)
    # a coalesced frame has exactly the session parallelism in partitions;
    # planning it again would rerun an upstream shuffle stage under AQE
    n_partitions = (_num_plan_partitions(sel) if inp is sel
                    else sel.sparkSession.sparkContext.defaultParallelism)
    return (inp.mapInArrow(_partial_fn(specs, cols),
                           from_arrow_schema(PARTS_ROW)),
            n_partitions)


def _build(df, specs: list[tuple]):
    """ONE scan -> one merged sketch per spec, plus metrics rows
    (partition_id, sketch_id, rows = that spec's non-null count,
    wall_ms). partition_id is the partial's partition, a coalesced one
    when ``coalesce_small_input`` fired. Above ``TREE_MERGE_AT``
    partials the rows are per MERGE GROUP (partition_id = group id,
    rows summed, wall_ms the group max) — see the module docstring."""
    parts, n_partitions = sketch_partials(df, specs)
    merged, rows = collect_and_merge(
        parts, [make for _, make, _ in specs], n_partitions)
    metrics = [
        {"partition_id": r["partition_id"], "sketch_id": r["sketch_id"],
         "rows": r["rows"], "wall_ms": r["wall_ms"]}
        for r in rows
    ]
    return merged, metrics


def build_sketch(df, col: str, make_sketch: Callable[[], object],
                 value_kind: str = "keys"):
    """Distributed build of any mergeable sketch over df[col].

    value_kind: a ``sketch_partials`` kind. Returns (sketch, metrics
    list of {partition_id, rows, wall_ms})."""
    (merged,), metrics = _build(df, [(col, make_sketch, value_kind)])
    for m in metrics:
        del m["sketch_id"]
    return merged, metrics


def build_sketches(df, specs: list[tuple]):
    """Build SEVERAL mergeable sketches in ONE scan (one mapInArrow
    pass; one small blob row per (partition, sketch)).

    specs: ``sketch_partials`` (col, make_sketch, kind) triples.
    Returns the list of merged sketches in spec order. Halves (or
    better) the wall time of workloads that previously called
    build_sketch per sketch.

    The NULL exclusion is the subset-composition hook: pre-project row
    predicates as ``F.when(cond, key_col)`` columns and a single pass
    builds a sketch per SUBSET without re-scanning per predicate.
    """
    return _build(df, specs)[0]
