"""local_rows_df: literal row lists planned as JVM LocalTableScans."""

from __future__ import annotations


def test_row_with_none_and_bare_names_infers_bigint(spark):
    """A pyspark Row holding a None, with a bare-name schema, takes the
    legacy constructor: the int column infers bigint, as the RDD path
    does, instead of pandas coercing it to double."""
    from pyspark.sql import Row

    from newyork_taxi_etl_spark.localrel import local_rows_df

    rows = [Row(a=1, b=None), Row(a=2, b=3)]
    df = local_rows_df(spark, rows, ["a", "b"])
    assert dict(df.dtypes) == {"a": "bigint", "b": "bigint"}
    assert sorted(map(tuple, df.collect())) == [(1, None), (2, 3)]
