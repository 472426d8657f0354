"""Output checks against the registry's DuckDB twins.

Both sides go through ``tools/check_queries.py``'s stream-mode
normalisation: an order-insensitive (count, md5-sum, md5-sum) signature,
computed on the executors for Spark and over fetchmany chunks for
DuckDB. The checks run outside every timed region.
"""

from __future__ import annotations

import os

import duckdb

from tools.check_queries import TABLES, duck_signature, spark_signature


class Oracle:
    """DuckDB session with one view per catalog table present in data_dir."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def signature(self, sql: str) -> tuple[list[str], tuple[int, int, int]]:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        return cols, duck_signature(res, cols)

    def close(self) -> None:
        self.con.close()


def spark_side(sdf) -> tuple[list[str], tuple[int, int, int]]:
    return sdf.columns, spark_signature(sdf, sdf.columns)


def compare(oracle: Oracle, sql: str, spark_result) -> str | None:
    """None when a ``spark_side`` result matches its DuckDB twin, else a
    short description of the mismatch."""
    scols, ssig = spark_result
    dcols, dsig = oracle.signature(sql)
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"
    if ssig != dsig:
        return f"signature mismatch: spark rows={ssig[0]} duckdb rows={dsig[0]}"
    return None
