"""Output checks against DuckDB, run outside the timed passes.

``same_frame`` applies the repository's oracle rules
(``tests/oracle_harness.compare``, whose cell normalisation it imports):
equal row count, equal column names, and equal values once columns are
sorted by name, rows are sorted, and floats are compared by ``repr``.
``close_rows`` is the looser rule for the taxi report, whose DuckDB twins
are written here with plain ``avg`` and ``sum``: floats must agree to a
stated tolerance.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from newyork_taxi_etl_spark.schema import TESTDATA_TABLES
from newyork_taxi_etl_spark.sources.readers import table_path
from tests.oracle_harness import _normalize


def connect_tables(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with a view per test-data table present in
    ``sf_dir``."""
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def same_frame(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    """``None`` when equal, else what differs."""
    if len(spark_pdf) != len(duck_pdf):
        return f"row count: spark={len(spark_pdf)} duckdb={len(duck_pdf)}"
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns: spark={sorted(spark_pdf.columns)} duckdb={sorted(duck_pdf.columns)}"
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    if not a.equals(b):
        return f"values differ in {int((a != b).any(axis=1).sum())}/{len(a)} rows"
    return None


def close_rows(spark_rows: list[tuple], duck_rows: list[tuple], *, rel: float = 1e-9,
               abs_tol: float = 1e-9) -> str | None:
    """Row lists in the same order; floats within tolerance, the rest equal."""
    if len(spark_rows) != len(duck_rows):
        return f"row count: spark={len(spark_rows)} duckdb={len(duck_rows)}"
    for i, (a, b) in enumerate(zip(spark_rows, duck_rows)):
        if len(a) != len(b):
            return f"row {i}: width {len(a)} != {len(b)}"
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    ok = x is None and y is None
                else:
                    ok = math.isclose(float(x), float(y), rel_tol=rel, abs_tol=abs_tol)
            else:
                ok = x == y
            if not ok:
                return f"row {i}: spark={tuple(a)} duckdb={tuple(b)}"
    return None
