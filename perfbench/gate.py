#!/usr/bin/env python3
"""Correctness gate: the program's captured output against the registry's
own DuckDB oracle (`SparkEntry.oracleSql`) run over the same generated
inputs.

Rows are matched on their non-float columns; float columns must agree to
1e-9 relative. For the columns in ALLOWANCE (published rounded to N
places) a difference of exactly one unit in the last place is tolerated
and counted, so a known rounding gap shows as a number instead of failing
or being hidden.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

# job -> {column: decimal places it is rounded to}
ALLOWANCE = {"corpus_pipeline": {"quality": 4}}


def oracle_frame(in_dir, sql):
    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{os.path.join(in_dir, '.duckdb')}'")
    for p in sorted(glob.glob(os.path.join(in_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con.sql(sql).df()


def captured_frame(capture_dir):
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{capture_dir}/*.parquet')").df()


def compare(expected, actual, allowance=None):
    """Returns (ok, message, rows that needed the last-place allowance)."""
    allowance = allowance or {}
    if sorted(expected.columns) != sorted(actual.columns):
        return False, (f"columns {sorted(actual.columns)} != "
                       f"{sorted(expected.columns)}"), 0
    if len(expected) != len(actual):
        return False, f"rows {len(actual)} != {len(expected)}", 0
    cols = sorted(expected.columns)
    floats = [c for c in cols if pd.api.types.is_float_dtype(expected[c])
              or pd.api.types.is_float_dtype(actual[c])]
    keys = [c for c in cols if c not in floats]
    e = expected[cols].sort_values(keys, kind="stable").reset_index(drop=True)
    a = actual[cols].sort_values(keys, kind="stable").reset_index(drop=True)
    for c in keys:
        ne = ~((e[c] == a[c]) | (e[c].isna() & a[c].isna()))
        if ne.any():
            i = int(np.argmax(ne.to_numpy()))
            return False, (f"column {c} row {i}: {a[c][i]!r} != "
                           f"{e[c][i]!r}"), 0
    allowed = np.zeros(len(e), dtype=bool)
    for c in floats:
        x, y = e[c].astype(float).to_numpy(), a[c].astype(float).to_numpy()
        both_nan = np.isnan(x) & np.isnan(y)
        d = np.abs(x - y)
        exact = both_nan | (d <= 1e-9 * np.maximum(1.0, np.abs(x)))
        bad = ~exact
        if c in allowance:
            unit = 10.0 ** -allowance[c]
            near = ~exact & (np.abs(d - unit) <= 1e-9)
            allowed |= near
            bad &= ~near
        if bad.any():
            i = int(np.argmax(bad))
            return False, f"column {c} row {i}: {y[i]!r} != {x[i]!r}", 0
    n_allowed = int(allowed.sum())
    return True, f"{len(e)} rows match", n_allowed


# testpilot_daily's three sinks read back under a src tag, as q26 does
READBACK = """
SELECT 'testpilot' AS src, event_id AS key, CAST(day AS VARCHAR) AS day,
       event AS attr, CAST(prop_k AS VARCHAR) AS val
FROM read_parquet('{d}/testpilot/*/*.parquet', hive_partitioning = true)
UNION ALL
SELECT 'testpilottest', event_id, CAST(day AS VARCHAR), event,
       CAST(value_cents AS VARCHAR)
FROM read_parquet('{d}/testpilottest/*/*.parquet', hive_partitioning = true)
UNION ALL
SELECT 'search', cust_id, '', name_prefix,
       concat_ws(':', CAST(is_auto AS VARCHAR), CAST(balance_cents AS VARCHAR))
FROM read_parquet('{d}/search/*.parquet')"""


def readback_digest(out_dir):
    """Order-independent digest of one iteration's sinks."""
    n, h = duckdb.sql(
        f"SELECT count(*), sum(hash(src, key, day, attr, val)::HUGEINT) "
        f"FROM ({READBACK.format(d=out_dir)})").fetchone()
    return f"{n}:{h}"


def actual_frame(job, work):
    """The job's output in the cold set-up (testpilot_daily) or in the
    capture run, whose digest matched it."""
    if job == "testpilot_daily":
        return duckdb.sql(
            READBACK.format(d=os.path.join(work, "out", "it-1"))).df()
    return captured_frame(os.path.join(work, "capture", job))


def check(job, expected, work):
    """Gate one job of a run against the oracle's frame: returns (ok,
    message, allowance rows, failures), where failures lists iterations
    whose output differs from the cold set-up's (the JVM checks the sink
    digests of the other jobs itself)."""
    failures = []
    if job == "testpilot_daily":
        dirs = sorted(glob.glob(os.path.join(work, "out", "it*")))
        first = os.path.join(work, "out", "it-1")
        want = readback_digest(first)
        for d in dirs:
            got = readback_digest(d)
            if got != want:
                failures.append(f"{os.path.basename(d)}: output digest "
                                f"{got} != {want}")
    actual = actual_frame(job, work)
    ok, msg, allowed = compare(expected, actual, ALLOWANCE.get(job))
    return ok, msg, allowed, failures
