#!/usr/bin/env python3
"""Seeded input generator for the benchmark's jobs.

Writes the tables a job reads as `<out>/<table>.parquet` (the layout
`graft.io.Tables` expects) plus, for `testpilot_daily`, the header CSV the
job's search source reads. The same (job, seed, sizes) always gives
byte-identical table contents: every value is a function of the row number
and the seed (DuckDB `hash`, Python `random.Random`), never of thread order.

Usage: python3 perfbench/gen.py <job> <seed> <out_dir>
"""
import json
import os
import random
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def sizes(job, factor=None):
    """The job's traffic dimensions with the size factor (by default
    workloads.json's `size_factor`) applied to the row counts; shares and
    shapes are not scaled."""
    spec = load_spec()
    dims = dict(spec["jobs"][job])
    f = spec["size_factor"] if factor is None else factor
    for k in ("events", "search_rows", "users", "customers", "orders",
              "documents"):
        if k in dims:
            dims[k] = max(1, int(round(dims[k] * f)))
    return dims


def _connect(seed, out):
    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{os.path.join(out, '.duckdb')}'")
    # uniform [0, 1) from (row, stream); streams keep columns independent
    con.sql(f"CREATE MACRO u(i, k) AS "
            f"(hash(i, {int(seed)}, k) % 1000003)::DOUBLE / 1000003")
    con.sql(f"CREATE MACRO h(i, k) AS hash(i, {int(seed)}, k)")
    return con


# Malformed `props` payloads: a number sent as a JSON string, and trailing
# bytes after the object (`K` is the intended value); plus a payload that
# is not JSON at all, on the event types whose props the job never parses.
# A truncated object (`{"k": 7`) is left out: the job's JSON path rightly
# yields NULL for it, but the q26 oracle's digit extraction reads 7, so
# every such row would fail the gate on the oracle's account.
MALFORMED = [
    '{"k": "K"}',
    '{"k": K}}',
]
NOT_JSON = "<html>504 Gateway Time-out</html>"


def _customers(con, n, path):
    con.sql(f"""COPY (
      SELECT i + 1 AS c_custkey,
             'Customer#' || lpad(CAST(i + 1 AS VARCHAR), 9, '0') AS c_name,
             CAST(h(i, 1) % 25 AS INTEGER) AS c_nationkey,
             round(u(i, 2) * 10999.0 - 999.99, 2) AS c_acctbal,
             ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
              'MACHINERY'][1 + CAST(h(i, 3) % 5 AS INTEGER)] AS c_mktsegment
      FROM range({n}) t(i) ORDER BY i) TO '{path}' (FORMAT PARQUET)""")


def gen_testpilot(con, d, out):
    n, days = d["events"], d["days"]
    forms = " ".join(
        f"WHEN {j} THEN " + "'" + m.replace("K", "' || k || '") + "'"
        for j, m in enumerate(MALFORMED))
    con.sql(f"""COPY (
      WITH e AS (
        SELECT i,
          make_timestamp(CAST(1704067200000000
            + h(i, 1) % ({days} * 86400000000) AS BIGINT)) AS ts,
          CAST(h(i, 2) % {d['users']} AS BIGINT) AS user_id,
          ['click', 'view', 'purchase', 'signup', 'error']
            [1 + CAST(h(i, 3) % {d['event_types']} AS INTEGER)] AS event_type,
          round(u(i, 4) * 200.0, 2) AS value,
          u(i, 5) < {d['malformed_share']} AS bad,
          CAST(h(i, 6) % 100 AS VARCHAR) AS k,
          CAST(h(i, 7) % {len(MALFORMED) + 1} AS INTEGER) AS form
        FROM range({n}) t(i))
      SELECT row_number() OVER (ORDER BY ts, i) - 1 AS event_id,
        ts, user_id, event_type, value,
        CASE WHEN NOT bad THEN '{{"k": ' || k || '}}'
             WHEN form = {len(MALFORMED)}
                  AND event_type NOT IN ('click', 'view') THEN '{NOT_JSON}'
             ELSE CASE form % {len(MALFORMED)} {forms} END END AS props
      FROM e ORDER BY event_id) TO '{out}/events.parquet' (FORMAT PARQUET)""")
    _customers(con, d["search_rows"], f"{out}/customer.parquet")
    con.sql(f"COPY (SELECT * FROM '{out}/customer.parquet') "
            f"TO '{out}/search.csv' (HEADER, DELIMITER ',')")


def gen_profile(con, d, out):
    nc, no = d["customers"], d["orders"]
    hot = max(1, int(round(nc * d["hot_customer_share"])))
    _customers(con, nc, f"{out}/customer.parquet")
    con.sql(f"""CREATE TABLE orders AS
      SELECT i + 1 AS o_orderkey,
        CAST(CASE WHEN u(i, 1) < {d['hot_order_share']}
                  THEN 1 + h(i, 2) % {hot}
                  ELSE 1 + h(i, 3) % {nc} END AS BIGINT) AS o_custkey,
        CASE WHEN u(i, 4) < 0.026 THEN 'P'
             WHEN u(i, 4) < 0.513 THEN 'F' ELSE 'O' END AS o_orderstatus,
        round(u(i, 5) * 500000.0 + 900.0, 2) AS o_totalprice,
        CAST(DATE '1992-01-01' + CAST(h(i, 6) % 2406 AS INTEGER)
             AS TIMESTAMP) AS o_orderdate,
        ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
          [1 + CAST(h(i, 7) % 5 AS INTEGER)] AS o_orderpriority,
        1 + CAST(h(i, 8) % {d['lines_per_order_max']} AS INTEGER) AS n_lines
      FROM range({no}) t(i)""")
    con.sql(f"COPY (SELECT * EXCLUDE (n_lines) FROM orders ORDER BY o_orderkey)"
            f" TO '{out}/orders.parquet' (FORMAT PARQUET)")
    con.sql(f"""COPY (
      WITH l AS (SELECT o_orderkey, o_orderdate,
                        unnest(range(n_lines)) AS ln FROM orders),
      k AS (SELECT *, o_orderkey * 8 + ln AS j FROM l)
      SELECT o_orderkey AS l_orderkey,
        CAST(1 + h(j, 11) % 200000 AS BIGINT) AS l_partkey,
        CAST(1 + h(j, 12) % 10000 AS BIGINT) AS l_suppkey,
        CAST(ln + 1 AS INTEGER) AS l_linenumber,
        CAST(1 + h(j, 13) % 50 AS DOUBLE) AS l_quantity,
        round(u(j, 14) * 100000.0 + 900.0, 2) AS l_extendedprice,
        round(u(j, 15) * 0.10, 2) AS l_discount,
        round(u(j, 16) * 0.08, 2) AS l_tax,
        ['R', 'A', 'N'][1 + CAST(h(j, 17) % 3 AS INTEGER)] AS l_returnflag,
        ['O', 'F'][1 + CAST(h(j, 18) % 2 AS INTEGER)] AS l_linestatus,
        o_orderdate + INTERVAL 1 DAY * CAST(1 + h(j, 19) % 121 AS INTEGER)
          AS l_shipdate
      FROM k ORDER BY l_orderkey, l_linenumber)
      TO '{out}/lineitem.parquet' (FORMAT PARQUET)""")


STOP = ["the", "and", "of", "is", "in", "a"]
PUNCT = ".,!?;:"
SYL = ["ka", "lo", "mi", "ne", "ra", "to", "su", "vi", "da", "pe", "go",
       "ri", "sa", "me", "tu", "no", "ba", "le", "zi", "co"]


def _text(rng, vocab, words):
    out = []
    for _ in range(words):
        w = rng.choice(STOP) if rng.random() < 0.25 else rng.choice(vocab)
        if rng.random() < 0.08:
            w += rng.choice(PUNCT)
        out.append(w)
    return out


def gen_corpus(con, d, out, seed):
    rng = random.Random(seed)
    vocab = sorted({"".join(rng.choice(SYL) for _ in range(rng.randint(2, 4)))
                    for _ in range(4000)})
    n, words = d["documents"], d["words_per_doc"]
    texts = []
    families = []
    # chain-shaped near-dup families: member j is member j-1 with 1..E word
    # substitutions, so neighbours pair up while the chain's ends may not —
    # the components need several label-propagation rounds. Sizes cycle
    # through min..max so every seed has the same family-size mix; ids
    # increase along each chain (a later edit of a page gets a later id),
    # so how far the smallest id sits from the rest of its family does not
    # depend on the seed.
    target = int(n * d["neardup_family_share"])
    lo, hi = d["family_size_min"], d["family_size_max"]
    while len(texts) < target:
        m = lo + len(families) % (hi - lo + 1)
        m = min(m, max(2, target - len(texts)))
        families.append((len(texts), len(texts) + m))
        cur = _text(rng, vocab, words)
        texts.append(" ".join(cur))
        for _ in range(m - 1):
            cur = list(cur)
            for _ in range(rng.randint(1, d["edits_per_step_max"])):
                cur[rng.randrange(words)] = rng.choice(vocab)
            texts.append(" ".join(cur))
    n_exact = int(n * d["exact_dup_share"])
    while len(texts) < n - n_exact:
        texts.append(" ".join(_text(rng, vocab, words)))
    texts += [rng.choice(texts) for _ in range(n - len(texts))]
    ids = list(range(n))
    rng.shuffle(ids)
    for a, b in families:
        ids[a:b] = sorted(ids[a:b])
    langs = ["en", "de", "fr", "es", "it"]
    sources = ["web", "news", "forum", "wiki"]
    docs = pd.DataFrame({
        "doc_id": pd.Series(ids, dtype="int64"),
        "text": texts,
        "lang": [langs[rng.randrange(5)] for _ in range(n)],
        "source": [sources[rng.randrange(4)] for _ in range(n)],
        "n_chars": pd.Series([len(t) for t in texts], dtype="int64"),
    })
    con.register("docs_df", docs)
    con.sql(f"COPY (SELECT * FROM docs_df ORDER BY doc_id) "
            f"TO '{out}/documents.parquet' (FORMAT PARQUET)")


def generate(job, seed, out, factor=None):
    """Generate `job`'s inputs for `seed` into `out`; returns the row
    count of the job's `rows` table (workloads.json) and the paths of the
    files the job reads (the oracle may read more)."""
    os.makedirs(out, exist_ok=True)
    d = sizes(job, factor)
    con = _connect(seed, out)
    if job == "testpilot_daily":
        gen_testpilot(con, d, out)
        files = ["events.parquet", "search.csv"]
    elif job == "profile_daily":
        gen_profile(con, d, out)
        files = [f"{t}.parquet" for t in ("customer", "orders", "lineitem")]
    elif job == "corpus_pipeline":
        gen_corpus(con, d, out, seed)
        files = ["documents.parquet"]
    else:
        raise SystemExit(f"unknown job {job}")
    rows = con.sql(f"SELECT count(*) FROM '{out}/{d['rows']}.parquet'"
                   ).fetchone()[0]
    con.close()
    return rows, [os.path.join(out, f) for f in files]


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    print(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])[0])
