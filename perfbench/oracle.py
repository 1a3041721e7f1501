"""Output checks: each query's result against its DuckDB ``oracle_sql()``.

The comparison mirrors the repository's differential gate
(``tests/test_queries_oracle.py``): column names sorted, every cell
normalized (floats to ten significant digits, NaN as a token, lists as
tuples), then the two row multisets must be equal.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents"
    " embeddings"
).split()


def _norm_cell(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return 0.0
        return round(v, 9 - int(math.floor(math.log10(abs(v)))) if abs(v) > 1 else 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalize(cols, rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def oracle_results(corpus_dir: str, sqls: dict[str, str]) -> dict[str, tuple]:
    """Name -> (sorted column names, normalized row multiset)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(corpus_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    try:
        for name, sql in sqls.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = (sorted(cols), normalize(cols, cur.fetchall()))
    finally:
        con.close()
    return out


def matches(expected: tuple, cols: list[str], rows) -> bool:
    exp_cols, exp_rows = expected
    return sorted(cols) == exp_cols and normalize(cols, rows) == exp_rows
