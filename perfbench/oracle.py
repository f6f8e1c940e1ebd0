"""DuckDB oracle comparison for the relational sweep.

Same canon as the project's correctness gate: columns sorted by name,
integers widened, non-numeric cells compared as strings, rows sorted,
then row count, column names and values must match exactly.
"""

from __future__ import annotations

import os

import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Same result as the query's oracle_sql() twin, whose NOT EXISTS join is
# quadratic in the orders (DuckDB took 5 s at sf0.01, 19 s at sf0.02 and
# 122 s at sf0.05 on a 4-vCPU VM). A row is on the skyline when it has
# the latest date at its price and every dearer price ends earlier.
# perfbench/test_rollup.py checks it against the twin on small tables.
SKYLINE_SQL = """
    WITH p AS (
        SELECT o_totalprice AS price, max(o_orderdate) AS top
        FROM orders GROUP BY o_totalprice),
    c AS (
        SELECT price, top,
               max(top) OVER (ORDER BY price DESC ROWS BETWEEN
                              UNBOUNDED PRECEDING AND 1 PRECEDING) AS above
        FROM p)
    SELECT o_orderkey, round(o_totalprice, 2) AS price,
           strftime(o_orderdate, '%Y-%m-%d') AS odate
    FROM orders o JOIN c ON o.o_totalprice = c.price
    WHERE o.o_orderdate = c.top
      AND (c.above IS NULL OR c.above < o.o_orderdate)
"""


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif not pd.api.types.is_numeric_dtype(df[c]):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Return ``None`` when the frames match, else a one-line reason."""
    a, b = canon(got), canon(want)
    if len(a) != len(b):
        return f"rows {len(a)} vs oracle {len(b)}"
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
            eq = ((a[c] == b[c]) | (a[c].isna() & b[c].isna())).all()
        else:
            eq = a[c].equals(b[c])
        if not eq:
            bad = a[c].ne(b[c]) & ~(a[c].isna() & b[c].isna())
            i = bad[bad].index[:3].tolist()
            return (f"column {c} rows {i}: {a[c].iloc[i].tolist()} "
                    f"vs oracle {b[c].iloc[i].tolist()}")
    return None


class Oracle:
    """Runs ``oracle_sql()`` statements on DuckDB over one data dir."""

    def __init__(self, data_dir: str, sql: dict[str, str]):
        import duckdb

        self._con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self._sql = {**sql, "q_skyline": SKYLINE_SQL}
        self._cache: dict[str, pd.DataFrame] = {}

    def expected(self, name: str) -> pd.DataFrame:
        if name not in self._cache:
            self._cache[name] = self._con.execute(self._sql[name]).df()
        return self._cache[name]

    def close(self) -> None:
        self._con.close()
