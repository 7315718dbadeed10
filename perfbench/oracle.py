"""Expected digests of a checkout's runs, backed by the DuckDB oracle.

A query's expected digest is the digest of a Spark output that passed the
strict compare of tools/hashcheck.py against the query's oracle SQL
(SparkEntry.oracleSql) on the same input. The harness writes that output,
off the clock, only for queries the cache does not hold yet; the cache is
keyed by the generated input's staging marker, so new data re-verifies.
"""
import json
import os
import sys

import duckdb

ROOT_TOOLS = os.path.join(os.getcwd(), "tools")


def _hashcheck():
    sys.path.insert(0, ROOT_TOOLS)
    try:
        import hashcheck
    finally:
        sys.path.pop(0)
    return hashcheck


class ExpectedCache:
    def __init__(self, directory, workload, data_dir):
        self.path = os.path.join(directory, f"{workload}.json")
        self.key = None
        if data_dir is not None:
            with open(os.path.join(data_dir, "_STAGED")) as f:
                self.key = f.read()
        self.values = {}
        if os.path.isfile(self.path):
            with open(self.path) as f:
                cached = json.load(f)
            if cached.get("key") == self.key:
                self.values = cached["digests"]

    def missing(self, names):
        return [n for n in names if n not in self.values]

    def digests(self):
        return dict(self.values)

    def record(self, new):
        self.values.update(new)
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "w") as f:
            json.dump({"key": self.key, "digests": self.values}, f, indent=1, sort_keys=True)


def compare(spark_tbl, duck_tbl):
    """None when the two tables are hash-exact, else the first difference."""
    hc = _hashcheck()
    deccols = [f.name for t in (spark_tbl, duck_tbl) for f in t.schema
               if "decimal" in str(f.type)]
    if deccols:
        return f"decimal column(s) in output: {deccols}"
    sc, srows, sorder = hc.canon(spark_tbl)
    dc, drows, dorder = hc.canon(duck_tbl)
    if sc != dc or sorder != dorder:
        return f"columns spark={sorder} duck={dorder}"
    if len(srows) != len(drows):
        return f"rows spark={len(srows)} duck={len(drows)}"
    for i, (sr, dr) in enumerate(zip(srows, drows)):
        if sr != dr:
            return f"row {i}: spark={sr} duck={dr}"
    return None


def verify(data_dir, entries):
    """Oracle-checks each written output; returns name -> expected digest,
    or a MISMATCH marker that no digest can equal."""
    hc = _hashcheck()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in hc.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, e in entries.items():
        if "error" in e:
            out[name] = f"MISMATCH: spark error {e['error']}"
            continue
        if e.get("oracle") is None:
            out[name] = "MISMATCH: no oracle SQL"
            continue
        try:
            why = compare(hc.load_result(e["dir"]), con.sql(e["oracle"]).arrow())
        except Exception as ex:  # oracle SQL error
            why = f"oracle error {ex}"
        out[name] = e["digest"] if why is None else f"MISMATCH: {why}"[:500]
    return out
