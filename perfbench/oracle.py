#!/usr/bin/env python3
"""DuckDB oracle for the query_suite workload.

The expected answer of a query is DuckDB's result of its oracle SQL
(`SparkEntry.oracleSql`) over the fixed tables in `perfbench/data/sf0.001`,
reduced to a digest by `check.canon`. Digests are cached in
`perfbench/oracle_cache.json`, keyed by the tables' checksums and the SQL
text; a query whose key does not match is answered by DuckDB live.

    python3 perfbench/oracle.py --rebuild

rebuilds the cache for the queries of the sample, `gen.QUERIES` (builds the
program first, to read their oracle SQL from it).
"""
import hashlib
import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.001")
CACHE = os.path.join(HERE, "oracle_cache.json")


def data_sha():
    h = hashlib.sha256()
    for f in sorted(os.listdir(DATA)):
        h.update(f.encode())
        h.update(open(os.path.join(DATA, f), "rb").read())
    return h.hexdigest()


def _con():
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM '{DATA}/{f}'")
    return con


def result_df(path):
    import duckdb
    return duckdb.connect().execute(f"SELECT * FROM '{path}/*.parquet'").df()


def expected(sql_by_name):
    import check
    cache = json.load(open(CACHE)) if os.path.exists(CACHE) else {"data": None, "queries": {}}
    fresh = cache["data"] == data_sha()
    out, con = {}, None
    for n, sql in sql_by_name.items():
        e = cache["queries"].get(n)
        if fresh and e and e["sql"] == sql:
            out[n] = e["digest"]
        else:
            con = con or _con()
            out[n] = check.digest(con.execute(sql).df())
    return out


def rebuild():
    import check
    import run
    root = os.getcwd()
    cp = run.build(root)
    with tempfile.TemporaryDirectory(dir=root) as d:
        os.makedirs(os.path.join(d, "tmp"))
        run.launch(cp, d, ["perfbench.Main", "--oracle-sql", os.path.join(d, "sql.json")],
                   time.time() + 600)
        sql = json.load(open(os.path.join(d, "sql.json")))
    import gen
    con = _con()
    queries = {}
    for n in sorted(gen.QUERIES):
        t0 = time.time()
        queries[n] = {"sql": sql[n], "digest": check.digest(con.execute(sql[n]).df())}
        print(f"{n} {time.time() - t0:.2f}s", file=sys.stderr)
    with open(CACHE, "w") as f:
        json.dump({"data": data_sha(), "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    if sys.argv[1:] != ["--rebuild"]:
        sys.exit("usage: python3 perfbench/oracle.py --rebuild")
    rebuild()
