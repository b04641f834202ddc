"""Output checks: order-independent digests and the DuckDB mirrors.

A digest reduces a result to its row count plus the wrapping sum of
per-row hashes over the name-sorted columns, with numbers normalised to
float64 rounded to 6 places. Row order, column order and integer vs
float typing do not change it, so a Spark result and its DuckDB mirror
digest alike when they hold the same values.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pandas as pd

_NULL_NUM = -1.234567e300


def _canon_col(s: pd.Series) -> pd.Series:
    if s.dtype == bool or pd.api.types.is_numeric_dtype(s.dtype):
        return s.astype("float64").round(6).fillna(_NULL_NUM)
    return s.astype(str)


def digest(pdf: pd.DataFrame) -> str:
    if pdf.empty:
        return f"0:{'0' * 16}"
    cols = sorted(pdf.columns)
    canon = pd.DataFrame({c: _canon_col(pdf[c]) for c in cols})
    h = pd.util.hash_pandas_object(canon, index=False).to_numpy(np.uint64)
    return f"{len(pdf)}:{int(h.sum(dtype=np.uint64)):016x}"


def duckdb_digests(sf_dir: str, queries: dict[str, str]) -> dict[str, str]:
    """Digest of each oracle SQL run by DuckDB over the same tables."""
    import duckdb

    con = duckdb.connect()
    # the mirrors run inside the benchmark's own process: keep them small
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name)
            con.execute(
                f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )
    out = {}
    for stage, sql in queries.items():
        out[stage] = digest(con.execute(sql).fetchdf())
    con.close()
    return out
