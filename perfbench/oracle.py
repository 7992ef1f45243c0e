"""Output check: each checked-pass result against DuckDB over the same inputs.

Parquet-backed queries run their `SparkEntry.oracleSql` text over the
parquet tables; the CSV queries run their own SQL text over the same
generated CSV files. The table list, the column order and the per-cell
comparison are the engine's own oracle gate's (tools/oracle_check.py):
columns by name, rows in order, values exactly.

DuckDB's answers over the fixed parquet tables do not depend on the seed,
so they are cached: uncached, the check took 15-19 s of a 70-90 s
`heavy_iterative` run (the graph oracles), cached under 1 s.
"""
import glob
import hashlib
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

from oracle_check import TABLES, cmp_cell, norm  # noqa: E402


def _connect(data_dir, inputs_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    con.execute(
        "CREATE VIEW sales AS SELECT * FROM read_csv("
        f"'{inputs_dir}/sales.csv', header=true, columns={{"
        "'sale_id': 'BIGINT', 'cust_id': 'INTEGER', 'region': 'VARCHAR', "
        "'amount_cents': 'BIGINT', 'qty': 'INTEGER', 'day': 'VARCHAR'})")
    con.execute(
        "CREATE VIEW customers AS SELECT * FROM read_csv("
        f"'{inputs_dir}/customers.csv', header=true, columns={{"
        "'cust_id': 'INTEGER', 'name': 'VARCHAR', 'segment': 'VARCHAR', "
        "'signup_year': 'INTEGER'})")
    return con


def _read_result(path):
    """A Spark result directory, part files in partition order."""
    import pandas as pd
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    if not parts:
        raise FileNotFoundError(f"no part files in {path}")
    return norm(pd.concat([pd.read_parquet(p) for p in parts],
                          ignore_index=True))


def compare(got, exp):
    """None when the two frames hold the same values, else the first
    difference as text."""
    got, exp = norm(got), norm(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not cmp_cell(a, b):
                return f"col {c} row {i}: spark={a!r} duckdb={b!r}"
    return None


def _tables_key(data_dir):
    """DuckDB's version and the parquet tables' contents."""
    import duckdb
    h = hashlib.sha256(duckdb.__version__.encode())
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _expected(con, sql, cache_dir, tables_key):
    """DuckDB's answer, cached by `tables_key` and SQL text (`cache_dir`
    None: not cached)."""
    import pandas as pd
    if cache_dir is None:
        return con.sql(sql).df()
    key = hashlib.sha256(f"{tables_key}\0{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    exp = con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    exp.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return exp


def check(results_dir, oracle_sql, names, seeded, data_dir, inputs_dir,
          cache_dir):
    """{query: reason} for every query in `names` whose result fails.

    A query with no oracle SQL is checked by row count only (the caller's
    job); one whose result is missing or unreadable fails here. Answers of
    queries in `seeded` (over the seed's CSV inputs) are not cached.
    """
    con = _connect(data_dir, inputs_dir)
    tables_key = _tables_key(data_dir)
    failures = {}
    for name in names:
        sql = oracle_sql.get(name)
        if sql is None:
            continue
        try:
            got = _read_result(os.path.join(results_dir, name))
        except Exception as e:  # a missing or unreadable result is a failure
            failures[name] = f"no result ({type(e).__name__}: {e})"
            continue
        try:
            exp = _expected(con, sql, None if name in seeded else cache_dir,
                            tables_key)
        except Exception as e:
            failures[name] = f"oracle error ({type(e).__name__}: {e})"
            continue
        diff = compare(got, exp)
        if diff is not None:
            failures[name] = diff
    return failures
