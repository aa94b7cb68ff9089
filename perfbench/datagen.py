"""Seeded input generators for the benchmark.

Two families, both pure numpy + pyarrow (no Spark), so generation time is
part of set-up and the program under test only ever sees parquet files:

* ``write_taxi`` — a month of taxi trips in the reference's raw schema
  (FIXTURES.md A1): the co-occurring null cluster, zero-distance trips,
  speed and distance outliers, swapped timestamps, out-of-year pickups,
  negative money and bad rate codes, tuned so about 89% of rows survive
  the de-facto cleaning chain as in the reference (2,644,148 of 2,964,624).
* ``write_corpus_tables`` — the ``events`` and ``documents`` test-data
  tables, shaped like the driver test data (TESTDATA.md): one parquet
  file with one row group per table, the same column types, value
  domains and near-duplicate structure.

The same ``seed`` always yields byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_2024_01 = np.datetime64("2024-01-01T00:00:00", "us")
_MONTH_US = 31 * 24 * 3600 * 1_000_000

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "fr", "zh", "de", "es"])
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


# ---------------------------------------------------------------------------
# taxi trips (FIXTURES.md A1)
# ---------------------------------------------------------------------------


def write_taxi(path: str, seed: int, n: int) -> int:
    """Write ``n`` raw taxi trips to ``path`` (one parquet file)."""
    rng = np.random.default_rng([seed, 1])
    u = rng.random

    # whole seconds, as in the TLC files
    pickup_s = rng.integers(0, _MONTH_US // 1_000_000, n)
    # a handful of out-of-year pickups (the reference had 15 of 2.96M)
    stray = rng.random(n) < 6e-6
    stray[rng.integers(0, n)] = True  # at least one, at any size
    pickup_s[stray] -= (31 + rng.integers(0, 400, stray.sum())) * 24 * 3600
    pickup = _EPOCH_2024_01 + pickup_s.astype("timedelta64[s]")

    dur_s = np.round(rng.lognormal(np.log(12.0 * 60), 0.6, n))
    dur_s[u(n) < 0.002] = 0  # zero duration: speed is NULL, dropped
    dur_min = dur_s / 60.0
    speed = rng.lognormal(np.log(11.0), 0.45, n)  # mph; the tail breaks 50
    dist = np.round(dur_min / 60.0 * speed, 2)
    zero_dist = u(n) < 0.02
    dist[zero_dist] = 0.0
    dist[u(n) < 3e-4] = np.round(rng.uniform(51, 200, 1)[0], 1)  # distance cap
    dist[rng.integers(0, n)] = 312722.3  # the reference's extreme outlier
    dropoff = pickup + dur_s.astype("timedelta64[s]")
    swap = u(n) < 1e-4  # dropoff before pickup
    pickup, dropoff = np.where(swap, dropoff, pickup), np.where(swap, pickup, dropoff)

    rate = rng.choice([1, 2, 3, 4, 5, 99], n, p=[0.93, 0.035, 0.004, 0.003, 0.008, 0.02])
    payment = rng.choice([1, 2, 3, 4], n, p=[0.80, 0.17, 0.01, 0.02])
    passengers = rng.choice([0, 1, 2, 3, 4, 5, 6], n,
                            p=[0.012, 0.748, 0.14, 0.04, 0.02, 0.02, 0.02])

    meter = np.maximum(dist * 3.5, dur_min * 0.7)
    expected = np.select(
        [rate == 1, rate == 2, rate == 3, rate == 4],
        [3.0 + meter, np.full(n, 70.0), 23.0 + meter, 3.0 + meter],
        3.0 + meter,
    )
    fare = np.round(expected + rng.uniform(-0.8, 6.0, n), 2)
    off = u(n) < 0.02  # outside the validation window
    fare[off] = np.round(expected[off] * rng.uniform(1.6, 3.0, off.sum()) + 11, 2)
    fare[zero_dist & (u(n) < 0.3)] = 0.0

    extra = rng.choice([0.0, 1.0, 2.5, 3.5], n)
    mta = np.full(n, 0.5)
    tip = np.round(np.where(payment == 1, fare * rng.uniform(0.0, 0.3, n), 0.0), 2)
    tolls = np.where(u(n) < 0.05, 6.94, 0.0)
    imp = np.full(n, 1.0)
    congestion = np.where(u(n) < 0.9, 2.5, 0.0)
    airport_fee = np.where(u(n) < 0.08, 1.75, 0.0)
    neg = u(n) < 0.012  # refunds: negative money on every column
    for a in (fare, extra, mta, tip, tolls, imp, congestion, airport_fee):
        a[neg] = -a[neg]
    total = np.round(fare + extra + mta + tip + tolls + imp + congestion + airport_fee, 2)
    total[u(n) < 2e-4] = 0.0

    hot = rng.random(n) < 0.15
    pu = np.where(hot, rng.choice([132, 138, 161, 236, 237], n),
                  rng.integers(1, 266, n)).astype(np.int32)
    do = np.where(rng.random(n) < 0.15, rng.choice([161, 236, 237, 230], n),
                  rng.integers(1, 266, n)).astype(np.int32)

    # the co-occurring null cluster (~4.7%): payment 0 rows with no rate code
    cluster = u(n) < 0.047
    payment[cluster] = 0
    flag = np.where(u(n) < 0.005, "Y", "N").astype(object)
    flag[cluster] = None

    def nullable(a, dtype):
        return pa.array(a, type=dtype, mask=cluster)

    table = pa.table({
        "VendorID": pa.array(rng.choice([1, 2, 6], n, p=[0.25, 0.74, 0.01]), pa.int32()),
        "tpep_pickup_datetime": pa.array(pickup, pa.timestamp("us")),
        "tpep_dropoff_datetime": pa.array(dropoff, pa.timestamp("us")),
        "passenger_count": nullable(passengers, pa.int64()),
        "trip_distance": pa.array(dist, pa.float64()),
        "RatecodeID": nullable(rate, pa.int64()),
        "store_and_fwd_flag": pa.array(flag, pa.string()),
        "PULocationID": pa.array(pu, pa.int32()),
        "DOLocationID": pa.array(do, pa.int32()),
        "payment_type": pa.array(payment, pa.int64()),
        "fare_amount": pa.array(fare, pa.float64()),
        "extra": pa.array(extra, pa.float64()),
        "mta_tax": pa.array(mta, pa.float64()),
        "tip_amount": pa.array(tip, pa.float64()),
        "tolls_amount": pa.array(tolls, pa.float64()),
        "improvement_surcharge": pa.array(imp, pa.float64()),
        "total_amount": pa.array(total, pa.float64()),
        "congestion_surcharge": nullable(congestion, pa.float64()),
        "Airport_fee": nullable(airport_fee, pa.float64()),
    })
    pq.write_table(table, path, row_group_size=1 << 20)
    return n


# ---------------------------------------------------------------------------
# events + documents (TESTDATA.md)
# ---------------------------------------------------------------------------


def _documents(rng, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary; 5% are an earlier text plus
    " dup" (near duplicates) and a few are exact copies."""
    vocab = np.array(_VOCAB)
    lens = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), lens.sum())]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif r < 0.0516:
            texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_corpus_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``events`` and ``documents`` at scale factor ``sf`` into
    ``out_dir``; return the row count per table."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)

    t = {}
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_EPOCH_2024_01 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 2), n_ev), pa.int64()),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
