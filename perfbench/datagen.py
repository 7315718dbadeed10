"""Seeded fixture generator for the benchmark.

Writes the ten engine tables (region … embeddings) with the schemas the
engine reads (see FIXTURES.md) and the shapes of the reference fixtures:
TPC-H-like star tables with uniform foreign keys, a month of events with a
JSON `props` column, a small-vocabulary document corpus with ~5% near
duplicates, and unit-norm 64-d embeddings. Every value is a hash of
(row, column, seed), so a (scale, seed) pair always yields the same rows
regardless of DuckDB's thread count.
"""
import json
import os
import shutil

import duckdb
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["the", "a", "data", "spark", "query", "join", "agg", "sort", "hash",
         "scan", "merge", "filter", "group", "window", "stream", "batch", "key",
         "value", "row", "column", "table", "vector", "order", "line", "part",
         "customer", "small", "big", "fast", "slow"]


def sizes(sf):
    """Row counts at scale factor `sf`, as in the reference fixtures."""
    return {
        "customer": int(150000 * sf), "supplier": int(10000 * sf),
        "part": int(200000 * sf), "orders": int(1500000 * sf),
        "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
        "documents": max(500, int(50000 * sf)),
        "embeddings": max(500, int(20000 * sf)),
    }


def _u(expr, salt, seed):
    """Uniform [0, 1) double from a row expression, column salt and seed."""
    return f"((hash({expr}, {salt}, {seed}) % 1000000007)::DOUBLE / 1000000007.0)"


def _pick(values, expr, salt, seed):
    arr = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"{arr}[1 + (hash({expr}, {salt}, {seed}) % {len(values)})::BIGINT]"


def _int(lo, hi, expr, salt, seed):
    return f"({lo} + (hash({expr}, {salt}, {seed}) % {hi - lo + 1})::BIGINT)"


def _money(lo, hi, expr, salt, seed):
    cents = hi * 100 - lo * 100
    return (f"(({lo * 100} + (hash({expr}, {salt}, {seed}) % {cents})::BIGINT)"
            f"::DOUBLE / 100.0)")


def table_sql(name, sf, seed):
    n = sizes(sf)
    s = seed
    if name == "region":
        return ("SELECT i::INTEGER AS r_regionkey, ['AFRICA', 'AMERICA', 'ASIA', "
                "'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name FROM range(5) t(i)")
    if name == "nation":
        return ("SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
                "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)")
    if name == "customer":
        return (f"SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name, "
                f"{_int(0, 24, 'i', 1, s)}::INTEGER AS c_nationkey, "
                f"{_money(-999, 9999, 'i', 2, s)} AS c_acctbal, "
                f"{_pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 'i', 3, s)} "
                f"AS c_mktsegment FROM range({n['customer']}) t(i)")
    if name == "supplier":
        return (f"SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name, "
                f"{_int(0, 24, 'i', 4, s)}::INTEGER AS s_nationkey, "
                f"{_money(-999, 9999, 'i', 5, s)} AS s_acctbal "
                f"FROM range({n['supplier']}) t(i)")
    if name == "part":
        adj = ["red", "blue", "old", "new", "hot", "cold", "small", "large"]
        noun = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
        return (f"SELECT i AS p_partkey, {_pick(adj, 'i', 6, s)} || ' ' || "
                f"{_pick(noun, 'i', 7, s)} AS p_name, "
                f"'Brand#' || {_int(1, 25, 'i', 8, s)} AS p_brand, "
                f"{_pick(['ECONOMY', 'STANDARD', 'LARGE', 'SMALL', 'MEDIUM', 'PROMO'], 'i', 9, s)} AS p_type, "
                f"{_int(1, 50, 'i', 10, s)}::INTEGER AS p_size, "
                f"((9000 + i % 1000)::DOUBLE / 10.0) AS p_retailprice "
                f"FROM range({n['part']}) t(i)")
    if name == "orders":
        return (f"SELECT i AS o_orderkey, {_int(0, n['customer'] - 1, 'i', 11, s)} AS o_custkey, "
                f"{_pick(['F', 'O', 'P'], 'i', 12, s)} AS o_orderstatus, "
                f"{_money(1000, 500000, 'i', 13, s)} AS o_totalprice, "
                f"(TIMESTAMP '1995-01-01' + to_days({_int(0, 2403, 'i', 14, s)}::INTEGER)) AS o_orderdate, "
                f"{_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'i', 15, s)} "
                f"AS o_orderpriority FROM range({n['orders']}) t(i)")
    if name == "lineitem":
        return (f"SELECT {_int(0, n['orders'] - 1, 'i', 16, s)} AS l_orderkey, "
                f"{_int(0, n['part'] - 1, 'i', 17, s)} AS l_partkey, "
                f"{_int(0, n['supplier'] - 1, 'i', 18, s)} AS l_suppkey, "
                f"{_int(1, 7, 'i', 19, s)}::INTEGER AS l_linenumber, "
                f"{_int(1, 50, 'i', 20, s)}::DOUBLE AS l_quantity, "
                f"{_money(900, 105000, 'i', 21, s)} AS l_extendedprice, "
                f"{_int(0, 10, 'i', 22, s)}::DOUBLE / 100.0 AS l_discount, "
                f"{_int(0, 8, 'i', 23, s)}::DOUBLE / 100.0 AS l_tax, "
                f"{_pick(['A', 'N', 'R'], 'i', 24, s)} AS l_returnflag, "
                f"{_pick(['F', 'O'], 'i', 25, s)} AS l_linestatus, "
                f"(TIMESTAMP '1995-01-02' + to_days({_int(0, 2498, 'i', 26, s)}::INTEGER)) AS l_shipdate "
                f"FROM range({n['lineitem']}) t(i)")
    if name == "events":
        ne = n["events"]
        span_us = 30 * 86400 * 1000000
        step = span_us // ne
        return (f"SELECT i AS event_id, TIMESTAMP '2024-01-01' + to_microseconds("
                f"i * {step} + {_int(0, step - 1, 'i', 27, s)}) AS ts, "
                f"{_int(0, max(1, n['customer'] // 10) - 1, 'i', 28, s)} AS user_id, "
                f"{_pick(['click', 'view', 'purchase', 'signup', 'error'], 'i', 29, s)} AS event_type, "
                f"{_money(0, 490, 'i', 30, s)} AS value, "
                f"'{{\"k\": ' || {_int(0, 99, 'i', 31, s)} || '}}' AS props "
                f"FROM range({ne}) t(i)")
    if name == "documents":
        vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
        nd = n["documents"]
        words = (f"array_to_string(list_transform(range({_int(10, 99, 'i', 32, s)}), "
                 f"k -> {vocab}[1 + (hash(i, k, 33, {s}) % {len(VOCAB)})::BIGINT]), ' ')")
        # ~5% of documents repeat an earlier document with its tail word
        # replaced: the near-duplicate pairs the dedup family looks for
        docs = (f"WITH base AS (SELECT i, {words} AS w FROM range({nd}) t(i)), "
                f"pick AS (SELECT i, CASE WHEN i > 0 AND hash(i, 34, {s}) % 20 = 0 "
                f"THEN (hash(i, 35, {s}) % i)::BIGINT ELSE i END AS src FROM range({nd}) t(i)) "
                f"SELECT p.i AS doc_id, CASE WHEN p.src = p.i THEN b.w ELSE "
                f"regexp_replace(b.w, '\\S+$', 'dup') END AS text, "
                f"{_pick(['en', 'en', 'en', 'en', 'es', 'es', 'fr', 'fr', 'de', 'de', 'zh', 'zh'], 'p.i', 36, s)} AS lang, "
                f"'src' || (p.i % 20) AS source "
                f"FROM pick p JOIN base b ON b.i = p.src")
        return f"SELECT *, length(text)::BIGINT AS n_chars FROM ({docs})"
    if name == "embeddings":
        gauss = (f"sqrt(-2.0 * ln(1e-12 + {_u('i * 64 + k', 37, s)})) * "
                 f"cos(2 * pi() * {_u('i * 64 + k', 38, s)})")
        return (f"WITH raw AS (SELECT i, list_transform(range(64), k -> {gauss}) AS v "
                f"FROM range({n['embeddings']}) t(i)) "
                f"SELECT i AS vec_id, list_transform(v, x -> (x / sqrt(list_sum("
                f"list_transform(v, y -> y * y))))::FLOAT) AS embedding, "
                f"{_int(0, 9, 'i', 39, s)}::INTEGER AS label FROM raw")
    raise ValueError(name)


ORDER = {"customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
         "orders": "o_orderkey", "events": "event_id", "documents": "doc_id",
         "embeddings": "vec_id"}


def _stage(out_dir, marker, build):
    """Build `out_dir` once: a marker with the build key makes it reusable."""
    mark = os.path.join(out_dir, "_STAGED")
    if os.path.isfile(mark) and open(mark).read() == marker:
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_STAGED"), "w") as f:
        f.write(marker)
    os.rename(tmp, out_dir)
    return out_dir


def generate(out_dir, sf, seed):
    """Fixture set at scale `sf` from `seed`, staged once under `out_dir`."""
    def build(tmp):
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in TABLES:
            order = f" ORDER BY {ORDER[t]}" if t in ORDER else ""
            pq.write_table(con.sql(table_sql(t, sf, seed) + order).arrow(),
                           os.path.join(tmp, f"{t}.parquet"))
    return _stage(out_dir, json.dumps(["gen", GENERATOR_VERSION, sf, seed]), build)
