"""Output verification for the benchmark's warmup pass.

Registry queries are compared with their DuckDB oracle SQL
(`graft.SparkEntry.oracleSql`) run on the same generated inputs; ingest
legs are compared with the generator's expected results. Comparison is
exact after sorting columns by name and rows by value.
"""
import glob
import os

import duckdb
import pandas as pd

from gen import TABLES


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            df[c] = s.dt.tz_convert("UTC").dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def differs(expected, got):
    """'' if equal, else a one-line description of the first difference."""
    e, g = canon(expected), canon(got)
    if list(e.columns) != list(g.columns):
        return f"columns {list(g.columns)} != expected {list(e.columns)}"
    if e.shape != g.shape:
        return f"shape {g.shape} != expected {e.shape}"
    if not e.equals(g):
        neq = ((e != g) & ~(e.isna() & g.isna())).any(axis=1)
        return (f"{int(neq.sum())} rows differ, e.g. got {g[neq].head(1).to_dict('records')}"
                f" expected {e[neq].head(1).to_dict('records')}")
    return ""


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _dump(con, dump_dir, op):
    files = glob.glob(os.path.join(dump_dir, op, "*.parquet"))
    if not files:
        return None
    return con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def check_registry(in_dir, dump_dir, oracle_sql):
    con = _connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
    verdict = {}
    for op, sql in oracle_sql.items():
        try:
            got = _dump(con, dump_dir, op)
            verdict[op] = ("no result dump" if got is None
                           else differs(con.execute(sql).fetchdf(), got))
        except Exception as ex:  # an oracle error is a failed check, not a crash
            verdict[op] = f"oracle error: {ex}"
    return verdict


def check_ingest(dump_dir, expected):
    con = _connect()
    verdict = {}
    frames = _dump(con, dump_dir, "e1")
    verdict["e1"] = ("no result dump" if frames is None else
                     "" if len(frames) == expected["e1"]["rows"] else
                     f"{len(frames)} frames != expected {expected['e1']['rows']}")
    # DuckDB reads DATE as datetime.date objects; compare both as timestamps.
    dates = {"e2": "day", "stream": None, "catalog": "last_day"}
    for op, date_col in dates.items():
        got = _dump(con, dump_dir, op)
        if got is None:
            verdict[op] = "no result dump"
            continue
        exp = pd.DataFrame(expected[op])
        if date_col:
            exp[date_col] = pd.to_datetime(exp[date_col])
            got[date_col] = pd.to_datetime(got[date_col])
        verdict[op] = differs(exp, got)
    return verdict
