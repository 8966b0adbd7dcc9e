"""Expected outputs of the registry queries the benchmark runs.

Each query's output is canonicalized the way the repository's oracle tests
compare results (order-insensitive, exact doubles, int-valued floats
unified) and hashed. The expected digests come from the query's DuckDB
oracle SQL (``registry.oracle_sql()``) over the same generated tables.
"""

from __future__ import annotations

import hashlib
import math
import re

import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _cell(v):
    if v is None:
        return ("<null>",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("<null>",)
        if v.is_integer() and abs(v) < 2**53:
            return ("i", int(v))
        return ("f", v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("arr", tuple(_cell(x) for x in v))
    if hasattr(v, "isoformat"):
        return ("ts", v.isoformat())
    if isinstance(v, int):
        return ("i", int(v))
    return ("s", str(v))


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive exact digest of a result frame."""
    cols = sorted(pdf.columns)
    values = [pdf[c].astype(object).tolist() for c in cols]
    rows = sorted(tuple(_cell(v) for v in row) for row in zip(*values))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def tables_read(sql: str) -> list[str]:
    """The engine tables an oracle SQL names."""
    return [t for t in TABLES if re.search(rf"\b{t}\b", sql)]


def expected_digests(sf_dir: str, sqls: dict[str, str]) -> dict[str, str]:
    """Digest per query of its DuckDB oracle over the tables in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {name: digest(con.sql(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()
