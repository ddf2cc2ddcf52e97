"""Oracle check of the dumped query results.

Each query the run dumped is compared with the DuckDB answer to the
oracle SQL the engine ships for it (`SparkEntry.oracleSql`), over the
same lake: same column names, same row count, exact values, rows in
result order (a multiset match is accepted, as the repository's own
verify tool does).
"""
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return v


def _rows(rel):
    """Column names (sorted) and each row as the repr of its normalized
    values in that column order."""
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    return cols, [repr(tuple(_norm(r[i]) for i in idx)) for r in rel.fetchall()]


def _oracle(con, cache_dir, sql):
    """The oracle's answer, computed once per lake and SQL text: the lake is
    fixed data, and some oracle queries take DuckDB far longer than the
    engine takes to answer them."""
    path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            ans = json.load(fh)
        return ans["cols"], ans["rows"]
    cols, rows = _rows(con.sql(sql))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump({"cols": cols, "rows": rows}, fh)
    os.replace(path + ".tmp", path)
    return cols, rows


def oracle_check(lake, run_dir, rec):
    """Returns {query: reason} for every dumped query that does not match."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{lake}/{t}.parquet'")
    cache_dir = os.path.join(os.path.dirname(lake), "oracle")
    bad = {}
    for q in rec["dumps"]:
        sql = rec["oracle"].get(q)
        if sql is None:
            bad[q] = "no oracle SQL"
            continue
        try:
            exp_cols, exp = _oracle(con, cache_dir, sql)
            got_cols, got = _rows(con.sql(f"SELECT * FROM '{run_dir}/dumps/{q}/*.parquet'"))
        except Exception as e:  # a failing side is a wrong result, not a crash
            bad[q] = f"error: {e}"
            continue
        if got_cols != exp_cols:
            bad[q] = f"columns {got_cols} != {exp_cols}"
        elif len(got) != len(exp):
            bad[q] = f"rows {len(got)} != {len(exp)}"
        elif got != exp and sorted(got) != sorted(exp):
            bad[q] = "values differ"
    return bad
