"""JVM-local tiny DataFrames (r15 optimization, guide §4/§5).

``spark.createDataFrame(list_of_tuples, ...)`` in classic PySpark builds a
*Python-RDD-backed* plan: the rows are pickled into an RDD of
``defaultParallelism`` partitions, and **every action over any plan
containing that leaf spawns a full-width Python-worker stage** — measured
on this box at local[32]: writing a ONE-ROW list-backed DataFrame costs
~8 s (32 Python worker launches plus an extra evaluation under the write),
versus 0.17 s when the same row reaches the JVM as one Arrow batch and
plans as a ``LocalTableScan``.  Worse, the Python leaf poisons every plan
it is unioned or joined into: a fused single-stage plan re-runs the
32-task Python scan inline (AQE can no longer replace the empty/known
side), which is how a 2-row quantile literal table was adding seconds to
KLL report plans.

``local_rows_df`` routes the rows through one Arrow batch (pandas) so the
relation lands on the JVM as a literal ``LocalTableScan``; empty inputs
(where the Arrow path silently degrades to an RDD scan again) are built as
``range(0)`` + typed NULL casts instead.  Values are bit-identical to the
legacy path for everything the engine passes here (ints, finite doubles,
strings, bools, None); a float NaN — which pandas would silently turn into
NULL — falls back to the legacy constructor to preserve semantics.

Timezone note (r15 ADVICE): rows containing naive ``datetime`` values
fall back to the legacy constructor too — the pandas/Arrow path localizes
naive datetimes to ``spark.sql.session.timeZone`` (UTC here) while the
legacy tuple path uses the system-local timezone; on a non-UTC host the
two differ by the tz offset.  The fallback keeps the legacy semantics
everywhere instead of documenting a UTC-host assumption.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql import types as T


def _fields(schema) -> list:
    if isinstance(schema, T.StructType):
        return list(schema.fields)
    if isinstance(schema, str):
        return list(T.StructType.fromDDL(schema).fields)
    return []  # bare column-name list: caller relies on inference


def _needs_legacy(rows) -> bool:
    """True when any value needs the legacy constructor: float NaN (pandas
    would coerce to NULL) or datetime (the Arrow path localizes naive
    datetimes to the session timezone, the legacy path to system-local)."""
    import datetime

    for r in rows:
        for v in r:
            if isinstance(v, float) and math.isnan(v):
                return True
            if isinstance(v, (datetime.datetime, datetime.date)):
                return True
    return False


def local_rows_df(spark, rows, schema):
    """Drop-in replacement for ``spark.createDataFrame(rows, schema)`` for
    SMALL literal row lists: same values, same schema, but planned as a
    JVM ``LocalTableScan`` instead of a Python-RDD scan (see module doc).

    ``schema`` may be a DDL string, a StructType, or a list of column
    names (legacy inference — ints become bigint exactly as the RDD path
    infers them)."""
    import pandas as pd

    rows = [tuple(r) for r in rows]
    fields = _fields(schema)
    if not rows and fields:
        return spark.range(0).select(
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in fields
            ]
        )
    if _needs_legacy(rows):
        # pandas->Arrow would coerce NaN to NULL / shift naive datetimes
        # to the session tz; keep legacy semantics
        return spark.createDataFrame(rows, schema)
    if fields:
        # object dtype: stop pandas coercing int columns with Nones to
        # float; the explicit schema drives the Arrow cast per column
        pdf = pd.DataFrame(
            rows, columns=[f.name for f in fields], dtype=object
        )
        return spark.createDataFrame(pdf, schema=schema)
    if not rows or any(v is None for r in rows for v in r):
        # bare-name inference: empty input raises on the pandas path and
        # an int column containing None coerces to float64 (DoubleType)
        # where the RDD path infers bigint — route both to the legacy
        # constructor (r15 ADVICE; no engine caller hits this today)
        return spark.createDataFrame(rows, list(schema))
    pdf = pd.DataFrame(rows, columns=list(schema))
    return spark.createDataFrame(pdf)
