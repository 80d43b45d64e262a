"""Replays a registry oracle in DuckDB over the run's input tables and
compares it with the Spark output by graft's tools/check.py rule: same
column names, same row count, same value-sorted rows."""
import os
import sys

import duckdb
import pandas as pd

import gen

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import canon  # noqa: E402


def compare(data_dir: str, sql_path: str, out_path: str):
    """(ok, detail) for one Spark output against its oracle SQL."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(sql_path) as f:
        ref = con.sql(f.read()).df()
    mine = pd.read_parquet(out_path)
    if sorted(mine.columns) != sorted(ref.columns):
        return False, f"columns {sorted(mine.columns)} vs {sorted(ref.columns)}"
    a, b = canon(mine), canon(ref)
    if len(a) != len(b):
        return False, f"rows {len(a)} vs {len(b)}"
    if a != b:
        return False, f"values differ, e.g. {[(x, y) for x, y in zip(a, b) if x != y][:2]}"
    return True, f"{len(a)} rows"
