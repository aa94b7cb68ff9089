"""Driver-contract smoke tests (mirrors the driver's t1 gate)."""

from __future__ import annotations


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"time_of_day_slot", "avg_value", "trip_count"} <= cols


def test_every_query_has_callable_and_runs_smoke(spark):
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert qs, "registry is empty"
    # every oracle key must have a query
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.columns, name


def test_tune_retries_after_a_failed_conf_set():
    """A session where one conf.set raised is NOT marked tuned: the next
    call sets every conf again, then marks it."""
    from newyork_taxi_etl_spark.session import DYNAMIC_CONFS, tune

    class Conf:
        def __init__(self):
            self.sets = []
            self.fail_once = True

        def set(self, k, v):
            if self.fail_once:
                self.fail_once = False
                raise RuntimeError("static conf")
            self.sets.append(k)

    class Session:
        conf = Conf()

    s = Session()
    tune(s)
    assert not getattr(s, "_nyetl_tuned", False)
    assert len(s.conf.sets) == len(DYNAMIC_CONFS) - 1
    tune(s)
    assert s._nyetl_tuned
    assert len(s.conf.sets) == 2 * len(DYNAMIC_CONFS) - 1
    tune(s)  # tuned: no further sets
    assert len(s.conf.sets) == 2 * len(DYNAMIC_CONFS) - 1
