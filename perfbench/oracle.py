"""Output check: each query's Spark result against DuckDB running the
query's `SparkEntry.oracleSql` on the same input directory.

The comparison rules are tools/check.py's own (`canon` and `values`:
columns sorted by name, floats rounded to 6 places, NaN and NA read as
null, arrays as tuples, rows compared in order), imported from that file.
Oracle results are cached per input directory and SQL text, so a fixed
input pays for DuckDB once per checkout.
"""
import hashlib
import os
import pickle
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import check as gate  # noqa: E402  (tools/check.py, the repository's correctness gate)

TABLES = gate.TABLES


def canon(df):
    """(sorted column names, row tuples) under tools/check.py's rules."""
    df = gate.canon(df)
    return list(df.columns), gate.values(df)


def expected(data, sql, cache_dir):
    key = hashlib.sha256((os.path.realpath(data) + "\0" + sql).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.isfile(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    result = canon(con.execute(sql).df())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(result, fh)
    os.replace(path + ".tmp", path)
    return result


def check(data, out_dir, oracle_sql, queries, cache_dir):
    """Return {query: reason} for every query whose output is wrong."""
    wrong = {}
    for q in queries:
        if q not in oracle_sql:
            wrong[q] = "no oracle SQL"
            continue
        try:
            got = canon(duckdb.connect().execute(
                f"SELECT * FROM '{out_dir}/{q}/*.parquet'").df())
        except Exception as e:  # missing output: the query threw
            wrong[q] = f"output unreadable: {e}"
            continue
        exp_cols, exp_rows = expected(data, oracle_sql[q], cache_dir)
        if got[0] != exp_cols:
            wrong[q] = f"columns {got[0]} != {exp_cols}"
        elif got[1] != exp_rows:
            if len(got[1]) != len(exp_rows):
                wrong[q] = f"{len(got[1])} rows, expected {len(exp_rows)}"
            else:
                diff = next(i for i, (x, y) in enumerate(zip(got[1], exp_rows)) if x != y)
                wrong[q] = f"row {diff}: {got[1][diff]} != {exp_rows[diff]}"
    return wrong
