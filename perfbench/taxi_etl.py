"""taxi_etl: the paper's batch job on a seeded month of taxi trips.

One pass = the ``ingest`` leg (raw scan + count, profile, de-facto
cleaning + features + count, partitioned sink, Z-ordered copy) and the
``query`` leg (the reference's analytics and two pruned reads over the
curated table).  Every pass reads the same raw file and writes its own
sink.  Warm-up is one untimed pass, which brings the fresh driver JVM to
steady speed; it counts in ``setup_s``.
"""

from __future__ import annotations

import glob
import os

import duckdb
from pyspark.sql import functions as F

import datagen
from oracle import close_rows

#: trips per month; the reference month has 2,964,624
TRIPS = 50_000
PARTITIONS = ["pickup_year", "pickup_month", "pickup_day"]
TS = "tpep_pickup_datetime"
#: the pruned Z-order read: airport pickups dropping off in 230..237
BOX = {"PULocationID": (1, 138), "DOLocationID": (230, 237)}
AIRPORTS = (1, 132, 138)

_SLOT_SQL = (
    "CASE WHEN hour(tpep_pickup_datetime) BETWEEN 0 AND 5 THEN 'Night' "
    "WHEN hour(tpep_pickup_datetime) BETWEEN 6 AND 11 THEN 'Morning' "
    "WHEN hour(tpep_pickup_datetime) BETWEEN 12 AND 16 THEN 'Afternoon' "
    "WHEN hour(tpep_pickup_datetime) BETWEEN 17 AND 20 THEN 'Evening' "
    "ELSE 'LateNight' END"
)

#: the de-facto cleaning chain (plans.pipeline.DEFACTO_STAGES) in DuckDB SQL
_CLEAN_COUNT_SQL = """
WITH d AS (
  SELECT *, (epoch(tpep_dropoff_datetime) - epoch(tpep_pickup_datetime)) / 60.0 AS t
  FROM read_parquet('{raw}')
), s AS (
  SELECT * FROM d
  WHERE (CASE WHEN t = 0 THEN NULL ELSE trip_distance / (t / 60.0) END) <= 50
    AND trip_distance <= 50
), k AS (
  SELECT * FROM s WHERE (CASE
    WHEN trip_distance = 0 AND payment_type IN (1, 2) THEN 'keep'
    WHEN trip_distance = 0 AND payment_type IN (3, 4, 6) THEN 'drop'
    WHEN trip_distance = 0 AND t >= 10 AND fare_amount = 0 THEN 'drop'
    WHEN trip_distance = 0 AND t < 5 AND fare_amount > 20 THEN 'drop'
    ELSE 'keep' END) = 'keep'
), f AS (
  SELECT *,
    CASE WHEN payment_type IN (0, 1, 2) AND fare_amount < 0 THEN -fare_amount
         ELSE fare_amount END AS fare,
    greatest(trip_distance * 3.5, t * 0.7) AS meter
  FROM k
), e AS (
  SELECT *, CASE RatecodeID WHEN 1 THEN 3.0 + meter WHEN 2 THEN 70.0
    WHEN 3 THEN 3.0 + meter + 20.0 WHEN 4 THEN 3.0 + meter END AS expected
  FROM f
)
SELECT count(*) FROM e
WHERE NOT (fare > expected + 10 OR fare < expected - 1) AND passenger_count > 0
"""

_CUR = "read_parquet('{sink}/*/*/*/*.parquet', hive_partitioning = true)"

#: DuckDB twins of the report, in the order the pass runs them
_REPORT_SQL = {
    "traffic_congestion": f"""
        SELECT {_SLOT_SQL} AS s, avg(average_speed), count(*)
        FROM {_CUR} GROUP BY s ORDER BY s""",
    "value_by_slot_dow": f"""
        SELECT {_SLOT_SQL} AS s, dayofweek({TS}) + 1 AS d, round(avg(fare_amount), 2), count(*)
        FROM {_CUR} GROUP BY s, d ORDER BY s, d""",
    "top_routes": f"""
        SELECT concat_ws(' to ', PULocationID, DOLocationID) AS route, count(*) AS n
        FROM {_CUR} WHERE {_SLOT_SQL} IN ('Afternoon', 'Evening')
        GROUP BY PULocationID, DOLocationID ORDER BY n DESC, route LIMIT 10""",
    "corr_by_group": f"""
        SELECT time_of_day_slot, round(corr(trip_distance, fare_amount), 6),
               avg(trip_distance), avg(fare_amount), count(*)
        FROM {_CUR} GROUP BY 1 ORDER BY 1""",
    "group_type_stats": f"""
        SELECT CASE WHEN PULocationID IN {AIRPORTS} THEN 'flagged' ELSE 'non_flagged' END AS k,
               round(avg(tip_pct), 2), round(avg(hour({TS})), 2), count(*)
        FROM {_CUR} GROUP BY k ORDER BY k""",
}


def _files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


class Workload:
    #: the leg metrics are medians over the passes: a fresh driver keeps
    #: getting faster for several passes after the warm-up, and the
    #: median of three takes the middle one
    MIN_PASSES = 3
    #: the names this workload's legs have in the paper's terms
    LEG_NAMES = {"ingest": "etl_s", "query": "report_s"}

    def __init__(self, h):
        self.h = h
        self.raw = os.path.join(h.scratch, "data", "trips.parquet")
        self.day = 1 + h.seed % 28  # the partition-pruned read's day
        self.results: dict[str, list] = {}
        self.clean_counts: list[int] = []
        self.touched: list[tuple[int, int]] = []
        self.last_out = ""

    # -- set-up -----------------------------------------------------------

    def generate(self) -> None:
        os.makedirs(os.path.dirname(self.raw), exist_ok=True)
        datagen.write_taxi(self.raw, self.h.seed, TRIPS)
        self.h.info["raw_rows"] = TRIPS

    def warm_up(self) -> None:
        self._pass(self.raw, os.path.join(self.h.scratch, "warmup"), record=False)

    # -- one pass ---------------------------------------------------------

    def one_pass(self, n: int) -> None:
        out = os.path.join(self.h.scratch, "passes", f"p{n}")
        self._pass(self.raw, out, record=True)
        self.last_out = out

    def _pass(self, raw_path: str, out: str, record: bool) -> None:
        from newyork_taxi_etl_spark.operators import analytics as A
        from newyork_taxi_etl_spark.operators import features as X
        from newyork_taxi_etl_spark.operators import profile as P
        from newyork_taxi_etl_spark.operators.clean import MONEY_COLS
        from newyork_taxi_etl_spark.plans.pipeline import defacto_pipeline
        from newyork_taxi_etl_spark.sources import readers as R
        from newyork_taxi_etl_spark.sources import writers as W

        h, spark = self.h, self.h.spark
        sink, zdir = os.path.join(out, "curated"), os.path.join(out, "zordered")
        results = {}

        def scan():
            raw = R.read_taxi_raw(spark, raw_path)
            return raw, raw.count()

        def profile(raw):
            return (P.null_counts(raw).collect(),
                    P.negative_counts(raw, MONEY_COLS).collect())

        def clean(raw):
            df = defacto_pipeline(raw)
            df = X.add_partition_cols(X.add_trip_type(X.add_tip_percent(df)))
            return df, df.count()

        def zorder():
            W.write_zordered_interleaved(R.read_parquet(spark, sink), zdir,
                                         "PULocationID", "DOLocationID")

        with h.leg("ingest"):
            raw, n_raw = h.op("sources", "scan", scan) or (None, None)
            h.op("operators", "profile", profile, raw)
            cleaned, n_clean = h.op("plans", "clean", clean, raw) or (None, None)
            h.op("sources", "write", W.write_partitioned, cleaned, sink, PARTITIONS)
            h.op("sources", "zorder", zorder)

        def report(name, build):
            results[name] = h.op("operators", name, lambda: build(R.read_parquet(spark, sink))
                                 .collect())

        def partition_read():
            return (R.read_parquet(spark, sink)
                    .filter((F.col("pickup_year") == 2024) & (F.col("pickup_month") == 1)
                            & (F.col("pickup_day") == self.day))
                    .agg(F.count(F.lit(1)), F.sum("total_amount")).collect())

        def zorder_read():
            b_lo, b_hi = BOX["DOLocationID"]
            rows = (R.read_parquet(spark, zdir)
                    .filter(F.col("PULocationID").isin(*AIRPORTS)
                            & F.col("DOLocationID").between(b_lo, b_hi))
                    .agg(F.count(F.lit(1)), F.sum("fare_amount")).collect())
            return rows, W.files_touched(zdir, BOX)

        with h.leg("query"):
            report("traffic_congestion",
                   lambda df: A.traffic_congestion(df, TS, "average_speed"))
            report("value_by_slot_dow", lambda df: A.value_by_slot_dow(df, TS, "fare_amount"))
            report("top_routes",
                   lambda df: A.top_routes(df, TS, "PULocationID", "DOLocationID"))
            report("corr_by_group",
                   lambda df: A.corr_by_group(df, "time_of_day_slot", "trip_distance",
                                              "fare_amount"))
            report("group_type_stats",
                   lambda df: A.group_type_stats(df, list(AIRPORTS), TS, "PULocationID",
                                                 "tip_pct"))
            results["partition_read"] = h.op("sources", "partition_read", partition_read)
            zr = h.op("sources", "zorder_read", zorder_read)
            results["zorder_read"], touched = zr if zr else (None, (0, 0))

        if not record:
            return
        self.results = results
        self.clean_counts.append(n_clean)
        self.touched.append(touched)
        files = _files(sink) + _files(zdir)
        h.counts["plans.rows_kept"].append(n_clean or 0)
        h.counts["sources.files_written"].append(len(files))
        h.counts["sources.output_mb"].append(sum(map(os.path.getsize, files)) / 2**20)
        h.counts["sources.files_touched"].append(touched[0] / max(touched[1], 1))
        h.info["raw_rows_read"] = n_raw

    # -- checks -------------------------------------------------------------

    def check(self) -> None:
        from newyork_taxi_etl_spark.sources.readers import read_parquet

        h, out = self.h, self.last_out
        sink, zdir = os.path.join(out, "curated"), os.path.join(out, "zordered")
        con = duckdb.connect()
        n_clean = self.clean_counts[-1]
        h.info["clean_rows"] = n_clean
        h.info["kept_frac"] = round(n_clean / TRIPS, 4)
        h.check("scan", h.info.get("raw_rows_read") == TRIPS,
                f"raw count {h.info.get('raw_rows_read')} != {TRIPS} generated")
        h.check("clean", len(set(self.clean_counts)) == 1,
                f"cleaned count differs between passes: {self.clean_counts}")
        duck_clean = con.execute(_CLEAN_COUNT_SQL.format(raw=self.raw)).fetchone()[0]
        h.check("clean", n_clean == duck_clean,
                f"cleaned rows: spark={n_clean} duckdb={duck_clean}")
        n_sink = read_parquet(h.spark, sink).count()
        n_z = read_parquet(h.spark, zdir).count()
        h.check("write", n_sink == n_clean, f"sink rows {n_sink} != cleaned {n_clean}")
        h.check("zorder", n_z == n_clean, f"z-ordered rows {n_z} != cleaned {n_clean}")

        for name, sql in _REPORT_SQL.items():
            got = self.results.get(name)
            want = con.execute(sql.format(sink=sink)).fetchall()
            rounded = name in ("value_by_slot_dow", "group_type_stats", "corr_by_group")
            msg = "no result" if got is None else close_rows(
                [tuple(r) for r in got], want, abs_tol=1e-6 if rounded else 1e-9)
            h.check(name, msg is None, msg or "")
        want = con.execute(
            f"SELECT count(*), sum(total_amount) FROM {_CUR.format(sink=sink)} "
            f"WHERE pickup_year = 2024 AND pickup_month = 1 AND pickup_day = {self.day}"
        ).fetchall()
        got = self.results.get("partition_read")
        msg = "no result" if got is None else close_rows([tuple(r) for r in got], want)
        h.check("partition_read", msg is None, msg or "")
        want = con.execute(
            f"SELECT count(*), sum(fare_amount) FROM read_parquet('{zdir}/*.parquet') "
            f"WHERE PULocationID IN {AIRPORTS} AND DOLocationID BETWEEN "
            f"{BOX['DOLocationID'][0]} AND {BOX['DOLocationID'][1]}").fetchall()
        got = self.results.get("zorder_read")
        msg = "no result" if got is None else close_rows([tuple(r) for r in got], want)
        h.check("zorder_read", msg is None, msg or "")
        con.close()

        # files touched by the Z-order box: reported, not gated, when the
        # range-partition sampling makes it differ between passes
        h.info["files_touched"] = [list(t) for t in self.touched]
        h.info["files_touched_repeats"] = len(set(self.touched)) == 1

    def stage_cache_events(self):
        return ()
