"""The committed fixtures, DuckDB oracle answers and the output comparison.

The catalog workloads read the project's sf0.01 test tables, committed
under `graftbench/data/`. A catalog row's output is correct when its
columns (sorted by name), row count and value digest equal those of its
DuckDB oracle query run over the same tables: the canonical form of the
project's differential check, `tools/diffcheck.py`, whose `canon` and
`df_hash` are used here. Oracle answers are cached per (fixture
fingerprint, oracle SQL).
"""
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from diffcheck import TABLES, canon, df_hash  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def fixture_dir(sf) -> str:
    return os.path.join(DATA, f"sf{sf}")


def fingerprint(sf_dir: str) -> dict:
    """Per-table file bytes and row counts plus a content digest."""
    out, h = {}, hashlib.sha256()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        out[name] = {"bytes": os.path.getsize(path),
                     "rows": pq.read_metadata(path).num_rows}
        with open(path, "rb") as f:
            h.update(f.read())
    out["sha256"] = h.hexdigest()[:16]
    return out


def answer(df: pd.DataFrame) -> dict:
    df = canon(df).reset_index(drop=True)
    return {"columns": list(df.columns), "rows": len(df), "hash": df_hash(df)}


def compare(got: dict, want: dict):
    """None when `got` matches `want`, else what differs."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} vs {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} vs {want['rows']}"
    if got["hash"] != want["hash"]:
        return "values differ"
    return None


def spark_answer(path: str) -> dict:
    return answer(pd.read_parquet(path))


class Cache:
    def __init__(self, root: str, fixture_sha: str):
        self.path = os.path.join(root, f"{fixture_sha}.json")
        self.entries = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.entries = json.load(f)

    @staticmethod
    def key(row: str, sql: str) -> str:
        return row + ":" + hashlib.sha256(sql.encode()).hexdigest()[:16]

    def has(self, row, sql):
        return self.key(row, sql) in self.entries

    def get(self, row, sql):
        return self.entries.get(self.key(row, sql))

    def fill(self, sf_dir: str, sqls: dict):
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        spill = os.path.join(os.path.dirname(self.path), "duckdb_tmp")
        con.execute(f"SET temp_directory = '{spill}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for row, sql in sorted(sqls.items()):
            self.entries[self.key(row, sql)] = answer(con.execute(sql).df())
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.entries, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)
