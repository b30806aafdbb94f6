"""Seeded test tables for the catalog workload, and its DuckDB oracle check.

The tables follow the schema of the engine's TPC-H-like test data
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings): same column names and types, same value
domains. Money values carry exactly two decimals, so the rounded sums
the queries return do not depend on summation order.

Every value is a function of (seed, table, row, field) through DuckDB's
`hash`, so one seed always gives the same bytes.
"""

import glob
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column",
         "filter", "small", "slow", "stream", "data", "key", "window",
         "merge", "vector", "line", "table", "value", "agg", "order",
         "spark", "a", "group", "part", "big", "sort", "query", "fast",
         "the"]


def sizes(sf):
    """Row counts at scale factor `sf` (sf 0.01 = 15 000 orders)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(50_000 * sf),
    }


def generate(out_dir, sf, seed):
    """Write one parquet file per table into `out_dir`; returns row counts."""
    n = sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # one thread: ties keep their order, so bytes repeat
    s = int(seed)

    def u(key, k):
        """Uniform integer in [0, k) from (seed, key)."""
        return f"(hash({s}, {key}) % {k})::BIGINT"

    def frac(key):
        return f"((hash({s}, {key}) % 1000000)::BIGINT / 1000000.0)"

    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    segs = "['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']"
    prios = "['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']"
    langs = "['en', 'en', 'en', 'zh', 'de', 'fr', 'es']"
    etypes = "['click', 'view', 'purchase', 'signup', 'error']"
    colours = "['red', 'blue', 'small', 'green', 'large']"
    things = "['widget', 'bolt', 'ring', 'gear', 'pipe']"
    ptypes = "['ECONOMY', 'SMALL', 'LARGE', 'STANDARD', 'PROMO', 'MEDIUM']"
    stmts = {
        "region": """SELECT i::INTEGER AS r_regionkey,
            ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i::BIGINT AS c_custkey,
            'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            {u("'c1', i", 25)}::INTEGER AS c_nationkey,
            round(({u("'c2', i", 1100000)}::BIGINT - 100000) / 100.0, 2) AS c_acctbal,
            {segs}[{u("'c3', i", 5)} + 1] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i::BIGINT AS s_suppkey,
            'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            {u("'s1', i", 25)}::INTEGER AS s_nationkey,
            round(({u("'s2', i", 1100000)}::BIGINT - 100000) / 100.0, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i::BIGINT AS p_partkey,
            {colours}[{u("'p1', i", 5)} + 1] || ' ' || {things}[{u("'p2', i", 5)} + 1] AS p_name,
            'Brand#' || ({u("'p3', i", 25)} + 1) AS p_brand,
            {ptypes}[{u("'p4', i", 6)} + 1] AS p_type,
            ({u("'p5', i", 50)} + 1)::INTEGER AS p_size,
            round(900 + (i % 1000) / 10.0, 2) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i::BIGINT AS o_orderkey,
            {u("'o1', i", n['customer'] * 2 // 3)}::BIGINT AS o_custkey,
            ['F', 'O', 'P'][{u("'o2', i", 3)} + 1] AS o_orderstatus,
            round(({u("'o3', i", 49900000)} + 100000) / 100.0, 2) AS o_totalprice,
            (TIMESTAMP '1992-01-01' + to_days({u("'o4', i", 3500)}::INTEGER)) AS o_orderdate,
            {prios}[{u("'o5', i", 5)} + 1] AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT {u("'l1', i", n['orders'])}::BIGINT AS l_orderkey,
            {u("'l2', i", n['part'])}::BIGINT AS l_partkey,
            {u("'l3', i", n['supplier'])}::BIGINT AS l_suppkey,
            ({u("'l4', i", 7)} + 1)::INTEGER AS l_linenumber,
            ({u("'l5', i", 50)} + 1)::DOUBLE AS l_quantity,
            round(({u("'l6', i", 10410000)} + 90000) / 100.0, 2) AS l_extendedprice,
            ({u("'l7', i", 11)} / 100.0)::DOUBLE AS l_discount,
            ({u("'l8', i", 9)} / 100.0)::DOUBLE AS l_tax,
            ['A', 'N', 'R'][{u("'l9', i", 3)} + 1] AS l_returnflag,
            ['F', 'O'][{u("'l10', i", 2)} + 1] AS l_linestatus,
            (TIMESTAMP '1992-01-01' + to_days({u("'l11', i", 3650)}::INTEGER)) AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        # events arrive in id order over 30 days, ~uniformly spaced
        "events": f"""SELECT i::BIGINT AS event_id,
            (TIMESTAMP '2024-01-01' + to_microseconds(
              (i * (2592000000000 // {n['events']}) +
               {u("'e1', i", 2592000000000 // n['events'])})::BIGINT)) AS ts,
            {u("'e2', i", 150)}::BIGINT AS user_id,
            {etypes}[{u("'e3', i", 5)} + 1] AS event_type,
            round(({u("'e4', i", 10000)} + 1) / 100.0 * (1 + {u("'e5', i", 5)}), 2) AS value,
            '{{"k": ' || {u("'e6', i", 100)} || '}}' AS props
            FROM range({n['events']}) t(i)""",
        # one document in 20 is an earlier document's text plus " dup"
        "documents": f"""WITH base AS (
              SELECT i, array_to_string(list_transform(
                  range(10 + {u("'d1', i", 90)}::INTEGER),
                  j -> {words}[{u("'d2', i, j", len(WORDS))} + 1]), ' ') AS txt
              FROM range({n['documents']}) t(i))
            SELECT d.i::BIGINT AS doc_id,
              CASE WHEN {u("'d3', d.i", 20)} = 0 AND d.i > 0
                   THEN src.txt || ' dup' ELSE d.txt END AS text,
              {langs}[{u("'d4', d.i", 7)} + 1] AS lang,
              'src' || (d.i % 20) AS source
            FROM base d JOIN base src ON src.i = {u("'d5', d.i", "greatest(d.i, 1)")}""",
        "embeddings": f"""WITH raw AS (
              SELECT i, list_transform(range(64),
                  j -> {frac("'v1', i, j")} + {frac("'v2', i, j")} +
                       {frac("'v3', i, j")} - 1.5) AS v
              FROM range({n['embeddings']}) t(i))
            SELECT i::BIGINT AS vec_id,
              list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y)))))::FLOAT[]
                AS embedding,
              {u("'v4', i", 10)}::INTEGER AS label
            FROM raw""",
    }
    counts = {}
    for t in TABLES:
        sql = stmts[t]
        if t == "documents":
            sql = f"SELECT *, length(text)::BIGINT AS n_chars FROM ({sql})"
        path = os.path.join(out_dir, f"{t}.parquet")
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{path}' (FORMAT PARQUET)")
        counts[t] = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    con.close()
    return counts


def check(data_dir, out_dir, oracles):
    """Compare each query's parquet output in `out_dir/<name>/` with its
    oracle SQL run by DuckDB over the same tables. Returns a map from
    query name to an error string (empty on a match).

    The comparison sorts columns and rows, compares integers, strings and
    booleans exactly, floats with rtol 1e-12, and fails any dtype mismatch.
    """
    import numpy as np
    import pandas as pd

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    errors = {}
    for name, sql in sorted(oracles.items()):
        pq = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not pq:
            errors[name] = "no output"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({pq!r})").fetchdf()
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle error is a failed check
            errors[name] = f"oracle error {e}"
            continue
        gcols, ecols = sorted(got.columns), sorted(exp.columns)
        if gcols != ecols:
            errors[name] = f"columns {gcols} vs {ecols}"
            continue
        g = got[gcols].sort_values(gcols).reset_index(drop=True)
        e = exp[ecols].sort_values(ecols).reset_index(drop=True)
        if len(g) != len(e):
            errors[name] = f"rows {len(g)} vs {len(e)}"
            continue
        err = ""
        try:
            for c in gcols:
                if str(g[c].dtype) != str(e[c].dtype):
                    err += f" dtype {c}: {g[c].dtype} vs {e[c].dtype}"
                floating = (np.issubdtype(g[c].dtype, np.floating)
                            or np.issubdtype(e[c].dtype, np.floating))
                pd.testing.assert_series_equal(
                    g[c], e[c], check_dtype=False, check_exact=not floating,
                    **({"rtol": 1e-12} if floating else {}))
        except AssertionError as ae:
            err += " values " + str(ae)[:300]
        errors[name] = err.strip()
    con.close()
    return errors
