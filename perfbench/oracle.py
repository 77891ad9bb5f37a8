"""DuckDB oracle compare for the pipeline workload.

Each query's oracle SQL (graft.SparkEntry.oracleSql) runs in DuckDB over
the same parquet tables; the Spark result must match it exactly after
columns are sorted by name and rows are sorted (floats compare with ==,
NaN equal to NaN): the rule of graft's correctness gate, whose compare
(tools/check_oracle.py) is reused here.
"""
import glob
import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, compare  # noqa: E402


def check(sqls, results_dir, data_dir, data_key, cache_dir):
    """{query: error or None}. DuckDB answers are cached in `cache_dir`,
    keyed by the SQL text and the tables' content key."""
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for name, sql in sorted(sqls.items()):
        key = hashlib.sha256(f"{data_key}\n{sql}".encode()).hexdigest()[:20]
        cached = os.path.join(cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(cached):
            want = pd.read_pickle(cached)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for t in TABLES:
                    p = os.path.join(data_dir, f"{t}.parquet")
                    if os.path.exists(p):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            want = con.execute(sql).fetchdf()
            want.to_pickle(cached + ".partial")
            os.rename(cached + ".partial", cached)
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            out[name] = "no Spark result dumped"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        out[name] = compare(name, got, want)
    if con is not None:
        con.close()
    return out
