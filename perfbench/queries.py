"""The contract queries of ``__spark_entry__`` that cover the streaming
layer and the operator and function pipelines, on small tables made from
the seed, with their checks against ``oracle_sql()`` through DuckDB.
Only the standard library is imported at the top, so that ``run.py`` can
name the queries before it has checked what the run needs.

The tables have the schema and value ranges of the repo's TPC-H-like test
data at scale factor 0.001 (1,000 events over 30 days and 15 users,
1,500 orders, 6,000 line items), one parquet file each, as the queries'
stream sources expect.
"""

from __future__ import annotations

import math
import os

STREAMING = ("streaming_window_counts", "streaming_dedup_users",
             "streaming_windowed_hll", "streaming_frequent_users",
             "streaming_sessionize")
PIPELINES = ("cuckoo_semi_join", "cuckoo_anti_join", "url_canonical_dedup")
QUERIES = STREAMING + PIPELINES
TABLES = ("events", "orders", "lineitem")

N_EVENTS, N_USERS = 1_000, 15
N_ORDERS, N_CUSTOMERS, N_LINEITEMS = 1_500, 150, 6_000
_US_PER_DAY = 86_400 * 1_000_000
_JAN_2024_US = 1_704_067_200 * 1_000_000
_1995_US = 788_918_400 * 1_000_000


def _dates_us(rng, n: int, days: int):
    return _1995_US + rng.integers(0, days, n) * _US_PER_DAY


def generate_tables(seed: int, sf_dir: str) -> None:
    """Write ``events``, ``orders`` and ``lineitem`` to
    ``<sf_dir>/<table>.parquet``, drawn from ``seed``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 0x51])
    os.makedirs(sf_dir, exist_ok=True)
    ts = np.sort(_JAN_2024_US + rng.integers(0, 30 * _US_PER_DAY, N_EVENTS))
    events = {
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS)),
        "event_type": pa.array(rng.choice(
            ["click", "view", "purchase", "signup", "error"], N_EVENTS)),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, N_EVENTS)]),
    }
    orders = {
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS)),
        "o_totalprice": pa.array(np.round(rng.uniform(1e3, 5e5, N_ORDERS), 2)),
        "o_orderdate": pa.array(_dates_us(rng, N_ORDERS, 2400),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            N_ORDERS)),
    }
    qty = rng.integers(1, 51, N_LINEITEMS).astype(np.float64)
    lineitem = {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEMS)),
        "l_partkey": pa.array(rng.integers(0, 200, N_LINEITEMS)),
        "l_suppkey": pa.array(rng.integers(0, 10, N_LINEITEMS)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEMS)
                                 .astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * rng.uniform(900, 2100, N_LINEITEMS), 2)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEMS) / 100),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEMS) / 100),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINEITEMS)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], N_LINEITEMS)),
        "l_shipdate": pa.array(_dates_us(rng, N_LINEITEMS, 2500),
                               pa.timestamp("us")),
    }
    for name, cols in (("events", events), ("orders", orders),
                       ("lineitem", lineitem)):
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))


def run_queries(spark, sf_dir: str, tr) -> dict[str, tuple[list, list]]:
    """Each query once, collected, in span ``q.<name>``; returns
    name → (columns, rows)."""
    import __spark_entry__ as contract

    fns = contract.queries()
    out = {}
    for name in QUERIES:
        with tr.span(f"q.{name}"):
            df = fns[name](spark, sf_dir)
            out[name] = (df.columns, [tuple(r) for r in df.collect()])
    return out


def _normalize(rows, cols) -> list[tuple]:
    """Rows as tuples in sorted column order, floats rounded, sorted: the
    order-insensitive form the contract tests compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(round(r[i], 6) if isinstance(r[i], float) else r[i]
                 for i in order) for r in rows]
    return sorted(out, key=repr)


def check_queries(results: dict, sf_dir: str) -> list[str]:
    """Compare every query's rows with its ``oracle_sql()`` through DuckDB
    (row count, column names, values); returns the failures."""
    import duckdb

    import __spark_entry__ as contract

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    oracle = contract.oracle_sql()
    errors = []
    for name, (cols, rows) in results.items():
        cur = con.execute(oracle[name])
        want_cols = [d[0] for d in cur.description]
        want = _normalize(cur.fetchall(), want_cols)
        got = _normalize(rows, cols)
        if sorted(cols) != sorted(want_cols):
            errors.append(f"query {name}: columns {cols} vs oracle {want_cols}")
        elif len(got) != len(want):
            errors.append(f"query {name}: {len(got)} rows vs oracle {len(want)}")
        elif not all(_same(g, w) for gr, wr in zip(got, want)
                     for g, w in zip(gr, wr)):
            errors.append(f"query {name}: values differ from the oracle")
    con.close()
    return errors


def _same(g, w) -> bool:
    if isinstance(g, float) or isinstance(w, float):
        return math.isclose(float(g), float(w), rel_tol=1e-9)
    return g == w
