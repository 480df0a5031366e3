"""Correctness check of every run against the DuckDB oracle.

Published stages and registry outputs are compared with their
`SparkEntry.oracleSql` entry over the same generated input files, with the
rule of `tools/check_oracle.py`: column-name-sorted, row-sorted, exact
values, and float sign bits compared too (-0.0 is not 0.0).
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def connect(input_dir, work_dir):
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{os.path.join(work_dir, 'duckdb_tmp')}'")
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
    return con


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def read_output(path):
    """A Spark output directory as a DataFrame, read as `check_oracle.py`
    reads it (pyarrow); hive partition columns come back as strings.
    """
    if not glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        raise FileNotFoundError(f"no parquet files under {path}")
    df = pd.read_parquet(path)
    for c in df.columns:
        if isinstance(df[c].dtype, pd.CategoricalDtype):
            df[c] = df[c].astype(str).astype(object)
    return df


def compare(got, want):
    """None when `got` equals `want` under the oracle rule, else a reason."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape {got.shape} vs {want.shape}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values: " + str(e).splitlines()[0]
    for c in got.columns:
        if got[c].dtype.kind == "f" and want[c].dtype.kind == "f":
            m = ~(got[c].isna().values | want[c].isna().values)
            if (np.signbit(got[c].values)[m] != np.signbit(want[c].values)[m]).any():
                return f"sign bit differs in column {c}"
    return None


def check_sql(con, out_path, sql):
    if not sql:
        return "no oracle SQL"
    try:
        got = read_output(out_path)
    except Exception as e:  # missing or unreadable output is a failure
        return f"output: {e}"
    try:
        want = con.execute(sql).df()
    except Exception as e:
        return f"oracle SQL: {str(e)[:200]}"
    return compare(got, want)


def check_dag(con, out_dir, oracle_sql, stages):
    """{stage: reason} for every published stage that fails its check;
    `stages` maps each stage to its oracle entry.
    """
    bad = {}
    for stage, name in stages.items():
        reason = check_sql(con, os.path.join(out_dir, stage), oracle_sql.get(name))
        if reason:
            bad[stage] = reason
    return bad


def check_registry(con, check_dir, oracle_sql, names):
    """{query: reason} for every registry query whose output fails the oracle."""
    bad = {}
    for name in names:
        reason = check_sql(con, os.path.join(check_dir, name), oracle_sql.get(name))
        if reason:
            bad[name] = reason
    return bad
