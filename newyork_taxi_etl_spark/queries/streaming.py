"""Time-window queries over ``events`` (streaming-shaped surface).

Batch evaluation of the same expressions Structured Streaming runs —
oracle-checkable — plus a real readStream pass (rows-only).

Oracle note: raw ``ts`` carries nanoseconds in the parquet file; the engine
reads microseconds (sources.readers.read_events), so every oracle that
exposes or compares timestamps first casts ``ts`` to microsecond precision
(``CAST(ts AS TIMESTAMP)``).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from newyork_taxi_etl_spark.registry import register
from newyork_taxi_etl_spark.sources.readers import read_events
from newyork_taxi_etl_spark.streaming import windows as W


def _workdir(name: str) -> str:
    """Per-process-unique scratch dir: concurrent drivers / parallel test
    workers never race on a shared stage path (ADVICE r6, generalized from
    the compaction/checkpoint fix to every staged streaming query)."""
    return os.path.join(tempfile.gettempdir(), f"nyetl_{name}_{os.getpid()}")


@register(
    "tumbling_window_agg",
    """
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
           COUNT(*) AS cnt,
           CAST(CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                / COUNT(value) AS DOUBLE) AS avg_value
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    doc="tumbling 1h window count/avg (F.window; identical expression runs "
    "under Structured Streaming)",
)
def tumbling_window_agg(spark, sf_dir):
    return W.tumbling_agg(read_events(spark, sf_dir))


@register(
    "sliding_window_agg",
    """
    WITH t AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    assigned AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS w_start, value FROM t
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
               AS w_start, value FROM t
    )
    SELECT w_start, COUNT(*) AS cnt,
           CAST(CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                / COUNT(value) AS DOUBLE) AS avg_value
    FROM assigned
    GROUP BY 1
    ORDER BY 1
    """,
    doc="sliding window (1h every 30min): each row lands in 2 windows "
    "(F.window(dur, slide))",
)
def sliding_window_agg(spark, sf_dir):
    return W.sliding_agg(read_events(spark, sf_dir))


@register(
    "session_window_agg",
    """
    WITH t AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    doc="session windows (30-min gap) per user via F.session_window; oracle "
    "is the classic gaps-and-islands formulation",
)
def session_window_agg(spark, sf_dir):
    return W.session_agg(read_events(spark, sf_dir))


@register(
    "structured_streaming_availablenow",
    """
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    doc="REAL Structured Streaming: stage → readStream(parquet) → "
    "withWatermark(2h) → tumbling 1h count → memory sink, "
    "Trigger.AvailableNow. The drained complete-mode output equals the "
    "batch tumbling aggregate (the watermark exceeds the corpus span, so "
    "nothing drops), which the oracle VALUE-checks — the streaming "
    "runtime itself is under the correctness gate",
)
def structured_streaming_availablenow(spark, sf_dir):
    stage = _workdir("stream_stage")
    return W.run_stream_availablenow(spark, read_events(spark, sf_dir), stage)


@register(
    "streaming_dedup_within_watermark",
    """
    SELECT COUNT(*) AS n
    FROM (SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
    """,
    doc="streaming exact dedup: the source is doubled (every key arrives "
    "twice), streamed through withWatermark + dropDuplicatesWithinWatermark "
    "(state = one entry per key inside the watermark horizon — the shape "
    "that makes exact dedup feasible on an unbounded stream), and the "
    "drained count must equal the batch COUNT(DISTINCT user_id, ts) of the "
    "original source, which the oracle value-checks",
)
def streaming_dedup_within_watermark(spark, sf_dir):
    stage = _workdir("dedup_stage")
    return W.run_streaming_dedup(spark, read_events(spark, sf_dir), stage)


@register(
    "stateful_user_stats",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events
    GROUP BY user_id
    """,
    doc="custom stateful streaming operator: applyInPandasWithState keyed "
    "by user_id maintains running (count, max) in GroupState across "
    "micro-batches (update mode, AvailableNow); final state equals the "
    "batch aggregate, so the oracle fully value-checks the stateful path",
)
def stateful_user_stats(spark, sf_dir):
    stage = _workdir("stateful_stage")
    return W.run_stateful_user_stats(spark, read_events(spark, sf_dir), stage)


@register(
    "stream_stream_join",
    """
    WITH t AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events
    )
    SELECT a.user_id, COUNT(*) AS n_pairs
    FROM t a JOIN t b
      ON a.user_id = b.user_id
     AND a.event_type = 'purchase' AND b.event_type = 'click'
     AND b.ts >= a.ts - INTERVAL '30 minutes' AND b.ts <= a.ts
    GROUP BY a.user_id
    ORDER BY a.user_id
    """,
    doc="REAL stream-stream inner join (purchases x clicks within a 30-min "
    "event-time range): both sides watermarked, time-range in the join "
    "condition so join state is watermark-bounded; drained with "
    "AvailableNow into a memory sink and folded per user — value-checked "
    "against the batch time-range join",
)
def stream_stream_join(spark, sf_dir):
    stage = _workdir("ssjoin_stage")
    return W.run_stream_stream_join(spark, read_events(spark, sf_dir), stage)


@register(
    "streaming_upsert_counts",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="foreachBatch incremental upsert (the streaming materialized-view "
    "pattern): the source drains as MULTIPLE micro-batches "
    "(maxFilesPerTrigger=1) and each batch's partial aggregates MERGE into "
    "the target via full-outer combine + atomic swap (with Delta this body "
    "is one MERGE INTO); partials combine associatively (decimal sums), so "
    "the final target provably equals the one-shot batch aggregate — "
    "value-checked by the oracle",
)
def streaming_upsert_counts(spark, sf_dir):
    target = _workdir("upsert_target")
    return W.run_foreachbatch_upsert(
        spark,
        read_events(spark, sf_dir),
        target,
        cache_key=f"events_rep4:{sf_dir}",
    )


@register(
    "foreachbatch_idempotent_replay",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="at-least-once redelivery proof (r6 verdict ask #4): after the "
    "multi-batch upsert drain commits, the fold body is invoked AGAIN "
    "with an already-applied batch_id and a SUPERSET payload — the "
    "crash-between-fold-and-checkpoint-commit scenario foreachBatch's "
    "contract allows.  The applied-batch sidecar (parquet analog of "
    "Delta txnAppId/txnVersion, committed atomically with the state "
    "swap) makes the redelivery a no-op, so the state still equals the "
    "one-shot batch aggregate the oracle computes; without the guard "
    "every replayed row double-folds and the hash compare fails",
)
def foreachbatch_idempotent_replay(spark, sf_dir):
    target = _workdir("replay_target")
    # same read-only stage (and key) as streaming_upsert_counts
    return W.run_upsert_replay_proof(
        spark,
        read_events(spark, sf_dir),
        target,
        cache_key=f"events_rep4:{sf_dir}",
    )


@register(
    "streaming_cms_counters",
    """
    SELECT d.j,
           CAST(('0x' || substring(md5(concat(CAST(d.j AS VARCHAR), '|',
                                             CAST(user_id AS VARCHAR))),
                                   1, 8)) AS BIGINT) % 256 AS bucket,
           COUNT(*) AS cnt
    FROM events, unnest([0, 1, 2, 3]) AS d(j)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="streaming count-min sketch over events.user_id: multi-batch "
    "AvailableNow drain (maxFilesPerTrigger=1 over a 4-file stage) with a "
    "complete-mode (j, bucket) aggregation. CMS is LINEAR, so the "
    "micro-batched counters must be bit-identical to the one-shot batch "
    "sketch — which is what the oracle value-checks. State is depth*width "
    "counters regardless of stream size; the same mergeability covers "
    "restarts, replicas, and batch backfills at 100 TB",
)
def streaming_cms_counters(spark, sf_dir):
    stage = _workdir("cms_stage")
    return W.run_streaming_cms(spark, read_events(spark, sf_dir), stage)


@register(
    "streaming_static_enrich",
    """
    SELECT n.n_name,
           COUNT(*) AS cnt,
           ROUND(CAST(CAST(CAST(SUM(CAST(CAST(e.value AS VARCHAR)
                     AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS DOUBLE), 4)
             AS sum_value
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    doc="stream-static broadcast enrich — the most common production "
    "streaming shape: events stream through availableNow, each "
    "micro-batch hash-joins the BROADCAST static nation dimension (the "
    "stream side never shuffles for the join; the dim plans once), then "
    "a keyed aggregate in complete mode. Drained output value-checked "
    "against the batch join+aggregate; decimal-routed value sums make "
    "the micro-batched accumulation order-independent",
)
def streaming_static_enrich(spark, sf_dir):
    import os
    import tempfile

    from newyork_taxi_etl_spark.sources.readers import table_path

    dim = spark.read.parquet(table_path(sf_dir, "nation")).select(
        "n_nationkey", "n_name"
    )
    stage = _workdir("enrich_stage")
    return W.run_stream_static_enrich(
        spark, read_events(spark, sf_dir), dim, stage
    )


@register(
    "streaming_decayed_scores",
    """
    WITH mx AS (SELECT MAX(ts) AS mx_ts FROM events),
    w AS (
      SELECT event_type,
             ROUND(EXP(-0.01 * (date_diff('microsecond', ts, mx_ts)
                                / 3600000000.0)), 12) AS wgt
      FROM events, mx
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(CAST(SUM(CAST(CAST(wgt AS VARCHAR)
                 AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE), 6)
             AS decayed_score
    FROM w
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="streaming twin of decayed_event_score: exp-decay freshness "
    "scores accumulated across a REAL multi-batch AvailableNow drain "
    "(maxFilesPerTrigger=1 over a 4-file stage). Works because decay "
    "against a FIXED reference timestamp is a LINEAR weighted sum — "
    "per-event weights computed in the micro-batch against the broadcast "
    "batch-computed reference (stream-static 1-row join), decimal "
    "partial sums merged by the complete-mode aggregate in any batching "
    "order, so the drained result is value-identical to the one-shot "
    "batch query (which is exactly what the oracle checks). Rescaling to "
    "a newer reference at window rollover multiplies every score by one "
    "constant — the production pattern this operator demonstrates",
)
def streaming_decayed_scores(spark, sf_dir):
    import os
    import tempfile

    ev = read_events(spark, sf_dir)
    ref = ev.agg(F.max("ts").alias("mx_ts"))
    stage = _workdir("decay_stage")
    return W.run_streaming_decayed_scores(spark, ev, ref, stage)


@register(
    "streaming_decay_rescale",
    """
    WITH mx AS (SELECT MAX(ts) AS mx_ts FROM events),
    w AS (
      SELECT event_type,
             EXP(-0.01 * (date_diff('microsecond', ts, mx_ts)
                          / 3600000000.0)) AS wgt
      FROM events, mx
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(wgt), 3) AS decayed_score
    FROM w
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="MOVING-reference streaming decay (the production pattern "
    "streaming_decayed_scores deliberately simplified by fixing the "
    "reference): a foreachBatch state fold where each micro-batch "
    "advances the reference to max(prev ref, batch max ts), rescales "
    "every ACCUMULATED per-type score by the ONE constant "
    "exp(-lam*dref_hours) — moving an exponential-decay reference "
    "rescales all weights uniformly, so state stays O(event types) and "
    "no event is revisited — then folds in the batch's weights computed "
    "against the new reference. maxFilesPerTrigger=1 over a 4-file stage "
    "forces a real multi-batch drain; the reference finishes at the "
    "corpus max timestamp, so the drained state value-matches this "
    "one-shot batch twin at that reference (weights stay unrounded "
    "doubles; the rescale chain differs from the one-shot exp only in "
    "float ulps ~1e-9 absolute, pinned at 1e-6 by pytest, and the "
    "3-decimal output rounding has 5 orders of magnitude of margin)",
)
def streaming_decay_rescale(spark, sf_dir):
    import os
    import tempfile

    ev = read_events(spark, sf_dir)
    stage = _workdir("rescale_stage")
    target = _workdir("rescale_state")
    return W.run_streaming_decay_rescale(spark, ev, stage, target)


def _lsh_index_oracle() -> str:
    from newyork_taxi_etl_spark.functions.text import minhash_sql, shingles_sql

    sh = shingles_sql("text", 3)
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents
      WHERE doc_id < 10
    ),
    sigs AS (
      SELECT doc_id,
             {minhash_sql(sh, 0)} AS mh_0,
             {minhash_sql(sh, 1)} AS mh_1,
             {minhash_sql(sh, 2)} AS mh_2,
             {minhash_sql(sh, 3)} AS mh_3
      FROM corpus
    ),
    bands AS (
      SELECT doc_id, 0 AS band_idx, md5(concat(mh_0, '|', mh_1)) AS band_hash FROM sigs
      UNION ALL
      SELECT doc_id, 1 AS band_idx, md5(concat(mh_2, '|', mh_3)) AS band_hash FROM sigs
    ),
    hot AS (
      SELECT band_idx, band_hash FROM bands
      GROUP BY band_idx, band_hash HAVING COUNT(*) > 64
    ),
    capped AS (
      SELECT * FROM bands b0
      WHERE NOT EXISTS (SELECT 1 FROM hot h
                        WHERE h.band_idx = b0.band_idx
                          AND h.band_hash = b0.band_hash)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM capped a JOIN capped b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """


@register(
    "streaming_lsh_index_dedup",
    _lsh_index_oracle(),
    doc="incremental STREAMING near-dup detection: documents arrive in "
    "micro-batches (4-file AvailableNow drain, planted exact copies of "
    "the first 10 docs under doc_id+100000 so collisions REALLY span "
    "batches), each batch MinHashes its docs, probes the accumulated "
    "(band_idx, band_hash) index for cross-batch collisions, self-joins "
    "within the batch, then appends its bands to the index — the "
    "append-only LSH index every production dedup-at-ingest pipeline "
    "maintains. Every collision surfaces when its later member arrives, "
    "in ANY arrival order, so the drained pair set equals the one-shot "
    "batch LSH join over the doubled corpus (this oracle — identical "
    "shingle/signature/band/hot-cap construction via the shared "
    "operators.dedup.lsh_band_rows). At scale the index is a parquet/"
    "Delta table partitioned by band bucket: probes touch only their "
    "buckets, state never lives in memory",
)
def streaming_lsh_index_dedup(spark, sf_dir):
    from newyork_taxi_etl_spark.sources.readers import table_path

    docs = spark.read.parquet(table_path(sf_dir, "documents")).select(
        "doc_id", "text"
    )
    dups = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(dups)
    base = _workdir("lshidx")
    return W.run_streaming_lsh_index(
        spark,
        corpus,
        base + "_index",
        base + "_pairs",
        cache_key=f"lshidx_corpus:{sf_dir}",
    )


@register(
    "stream_stream_outer_join",
    """
    WITH t AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ),
    p AS (SELECT user_id, event_id, ts FROM t WHERE event_type = 'purchase'),
    c AS (SELECT user_id, event_id, ts FROM t WHERE event_type = 'click'),
    j AS (
      SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      FROM p LEFT JOIN c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
    )
    SELECT user_id,
           CAST(COUNT(click_id) AS BIGINT) AS n_pairs,
           CAST(COUNT(CASE WHEN click_id IS NULL THEN 1 END) AS BIGINT)
             AS n_unmatched
    FROM j
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="REAL stream-stream LEFT OUTER join (the null-emission semantics "
    "the inner stream_stream_join never exercises): purchases x clicks "
    "within a 30-min event-time range, both sides watermarked at 1 HOUR "
    "(small, so unmatched state actually expires mid-drain) with a "
    "sentinel purchase+click pair 100h past the corpus staged in a "
    "later-written file — the file source reads it last, pushing the "
    "global watermark past every real match window so every held "
    "unmatched purchase flushes as a null-extended row before the "
    "AvailableNow drain ends. Drained and folded per user (matched pair "
    "count + unmatched count), value-identical to this batch LEFT JOIN "
    "twin — any late-drop or unflushed state breaks the row counts, so "
    "the oracle gates the watermark mechanics themselves",
)
def stream_stream_outer_join(spark, sf_dir):
    # the three outer-join drains stage the IDENTICAL time-sliced events +
    # sentinel content, so they share one cached stage per sf_dir (the
    # checkpoint/sink stays per-run; values are unaffected — the stage is
    # deterministic scaffolding with fixed mtimes)
    return W.run_stream_stream_outer_join(
        spark,
        read_events(spark, sf_dir),
        cache_key=f"events_ss3:{sf_dir}",
    )


_SS_TWO_SIDED_ORACLE = """
    WITH t AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ),
    p AS (SELECT user_id, event_id, ts FROM t WHERE event_type = 'purchase'),
    c AS (SELECT user_id, event_id, ts FROM t WHERE event_type = 'click'),
    j AS (
      SELECT COALESCE(p.user_id, c.user_id) AS user_id,
             p.event_id AS purchase_id, c.event_id AS click_id
      FROM p {join_kw} JOIN c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
    )
    SELECT user_id,
           CAST(COUNT(CASE WHEN purchase_id IS NOT NULL
                            AND click_id IS NOT NULL THEN 1 END) AS BIGINT)
             AS n_pairs,
           CAST(COUNT(CASE WHEN click_id IS NULL THEN 1 END) AS BIGINT)
             AS n_only_purchase,
           CAST(COUNT(CASE WHEN purchase_id IS NULL THEN 1 END) AS BIGINT)
             AS n_only_click
    FROM j
    GROUP BY user_id
    ORDER BY user_id
    """


@register(
    "stream_stream_full_outer_join",
    _SS_TWO_SIDED_ORACLE.format(join_kw="FULL OUTER"),
    doc="stream-stream FULL OUTER join (completes the outer-join matrix: "
    "inner / left / full / right now all exercised): purchases x clicks "
    "within a 30-min event-time range, both sides watermarked at 1 hour, "
    "trailing sentinel pushing the watermark past every real match window "
    "so held state on BOTH sides flushes null-extended — unmatched "
    "purchases AND unmatched clicks, the state the left join silently "
    "discards. Folded per user (pairs, purchase-only, click-only), "
    "value-identical to this batch FULL JOIN twin",
)
def stream_stream_full_outer_join(spark, sf_dir):
    return W.run_stream_stream_two_sided_outer(
        spark,
        read_events(spark, sf_dir),
        "fullOuter",
        cache_key=f"events_ss3:{sf_dir}",
    )


@register(
    "stream_stream_right_outer_join",
    _SS_TWO_SIDED_ORACLE.format(join_kw="RIGHT OUTER"),
    doc="stream-stream RIGHT OUTER join (the time-interval right-outer leg "
    "of the matrix): clicks preserved — an unmatched click null-extends "
    "once the watermark proves no purchase window can still claim it; "
    "n_only_purchase is structurally 0 (purchase side not preserved), "
    "pinned by the oracle",
)
def stream_stream_right_outer_join(spark, sf_dir):
    return W.run_stream_stream_two_sided_outer(
        spark,
        read_events(spark, sf_dir),
        "rightOuter",
        cache_key=f"events_ss3:{sf_dir}",
    )


def tws_available() -> bool:
    """transformWithStateInPandas ships its state protocol over protobuf;
    this environment has no ``google.protobuf`` (and installs are off
    limits), so the query registers CONDITIONALLY — same pattern as the
    delta-spark probe in queries/sinks.py. Re-probed round 6: the TWS
    driver worker crashes at ``import google.protobuf.descriptor``
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE); the runner itself
    (streaming/windows.run_transform_with_state_stats) is complete and
    activates the moment the dependency exists."""
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except ImportError:
        return False


if tws_available():

    @register(
        "transform_with_state_stats",
        """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12)))
                    AS VARCHAR) AS DOUBLE) AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id
        """,
        doc="per-user running (count, sum) via transformWithStateInPandas "
        "— the Spark 4 arbitrary-state streaming API (explicit ValueState "
        "from a StatefulProcessorHandle; the applyInPandasWithState "
        "successor). State carries the running sum as a Decimal "
        "serialized to string, each value added from its shortest float "
        "repr — the Python mirror of the engine's dec_in/dec_out "
        "VARCHAR-routing — so the drained sum is bit-identical to this "
        "DECIMAL(38,12) oracle regardless of how the 4-file "
        "maxFilesPerTrigger=1 drain batches the stream; a "
        "float-accumulating state would drift with batch boundaries and "
        "fail the hash. Update-mode re-emissions folded per key by the "
        "strictly-increasing count",
    )
    def transform_with_state_stats(spark, sf_dir):
        stage = _workdir("tws_stage")
        return W.run_transform_with_state_stats(
            spark, read_events(spark, sf_dir), stage
        )


@register(
    "streaming_checkpoint_recovery",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Checkpoint RESTART contract (the production kill-redeploy-resume "
    "loop): a foreachBatch upsert drains half the source to completion, "
    "stops, new files land, and the query restarts with the SAME "
    "checkpoint location — the file-source commit log makes the second "
    "run process ONLY the new files.  Any reprocessing would double-fold "
    "the first half into the target, so the oracle's one-shot aggregate "
    "over ALL events value-checks exactly-once across the restart "
    "boundary, not just within one run.  Complements "
    "streaming_upsert_counts (single-run multi-batch fold): same fold, "
    "plus the restart.",
)
def streaming_checkpoint_recovery(spark, sf_dir):
    import atexit
    import shutil

    # mkdtemp-unique so concurrent drivers / parallel test workers never
    # race on the checkpoint or target (r6 ADVICE); removed at process exit
    # because the returned DataFrame reads the target lazily.
    workdir = tempfile.mkdtemp(prefix="nyetl_ckpt_recovery_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    return W.run_checkpoint_recovery(spark, read_events(spark, sf_dir), workdir)


@register(
    "streaming_quantile_sketch",
    """
    WITH vals AS (
      SELECT value FROM events WHERE value IS NOT NULL
    ),
    stats AS (
      SELECT COUNT(*) AS n,
             ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
             ROUND(quantile_cont(value, 0.99), 6) AS p99_exact
      FROM vals
    ),
    hist AS (
      SELECT GREATEST(0, LEAST(CAST(FLOOR(value / 2.0) AS INT), 255)) AS bucket,
             COUNT(*) AS cnt
      FROM vals GROUP BY 1
    ),
    cum AS (
      SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS c FROM hist
    ),
    est AS (
      SELECT
        (SELECT MIN(bucket) FROM cum, stats WHERE c >= 0.5 * n) AS b50,
        (SELECT MIN(bucket) FROM cum, stats WHERE c >= 0.99 * n) AS b99
    )
    SELECT p50_exact,
           ROUND((b50 + 0.5) * 2.0, 6) AS p50_est,
           ROUND(abs((b50 + 0.5) * 2.0 - p50_exact) / p50_exact, 6)
             AS p50_rel_err,
           p99_exact,
           ROUND((b99 + 0.5) * 2.0, 6) AS p99_est,
           ROUND(abs((b99 + 0.5) * 2.0 - p99_exact) / p99_exact, 6)
             AS p99_rel_err
    FROM est, stats
    """,
    doc="quantile sketch MERGED AT INGEST: each micro-batch folds its "
    "fixed-bound 256-bucket histogram into parquet state by bucket-wise "
    "addition (sketch linearity — the property that makes one-pass "
    "quantiles possible on an unbounded stream); additive folds are "
    "replay-sensitive, so the applied-batch sidecar guards redelivery. "
    "Bounds are fixed a priori ([0, 512), width 2) because a "
    "mergeable-across-batches sketch cannot use data-dependent min/max "
    "the way the batch gate does (production: KLL/t-digest). Drained "
    "p50/p99 midpoint estimates sit next to the exact distributed "
    "percentiles with relative errors as driver-gated values.",
)
def streaming_quantile_sketch(spark, sf_dir):
    stage = _workdir("qsketch_stage")
    target = _workdir("qsketch_state")
    return W.run_streaming_quantile_sketch(
        spark, read_events(spark, sf_dir), stage, target
    )


@register(
    "streaming_session_close",
    """
    WITH t AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    doc="STREAMED session windows with closure semantics: sessions grow "
    "across micro-batches in the state store (UpdatingSessions merge) "
    "and each emits exactly once — when the watermark passes its end + "
    "gap, the engine's proof it can no longer be extended. Time-ordered "
    "3-slice stage + far-future sentinel (the outer-join drains' "
    "technique) pushes the final watermark past every real session so "
    "the bounded drain flushes them all; the appended output equals the "
    "batch gaps-and-islands sessionization row-for-row (user, session "
    "start, event count) under the value oracle. State is O(open "
    "sessions inside the watermark horizon) — the production shape for "
    "sessionization-at-ingest.",
)
def streaming_session_close(spark, sf_dir):
    return W.run_streaming_session_close(
        spark,
        read_events(spark, sf_dir),
        cache_key=f"events_sess3:{sf_dir}",
    )


@register(
    "streaming_late_drop",
    """
    WITH bounds AS (
      SELECT epoch_us(MIN(CAST(ts AS TIMESTAMP))) AS mn,
             epoch_us(MAX(CAST(ts AS TIMESTAMP)))
               - epoch_us(MIN(CAST(ts AS TIMESTAMP))) + 1 AS span
      FROM events
    ),
    sliced AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(1 + (epoch_us(CAST(ts AS TIMESTAMP)) - mn) * 3 // span
                  AS INT) AS s
      FROM events, bounds
    ),
    kept AS (
      SELECT ts FROM sliced
      WHERE NOT (s = 3 AND event_id % 25 = 0)
    )
    SELECT (SELECT CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT)
            FROM kept) AS n_windows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS events_emitted,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sliced
            WHERE s = 3 AND event_id % 25 = 0) AS events_dropped_late
    """,
    doc="watermark LATE-DROP accounting, value-oracled: rows arriving in "
    "the THIRD micro-batch with event_id%25==0 carry event times "
    "stamped 2h BEFORE the corpus starts — below every possible "
    "operative watermark once any earlier batch committed — so the "
    "tumbling append aggregation provably drops ALL of them and "
    "nothing else. (Batch 1 plants none — its watermark is unset; "
    "batch 2 is avoided too: the late filter's operative watermark "
    "empirically lags the progress-reported one by a batch.) Batch "
    "membership is equal TIME-SPAN tertiles from one (min,max) "
    "aggregate — time-monotone like the r10 ntile slicing (hash "
    "slicing would strand real rows below the advanced watermark) "
    "but a pure projection, no corpus-sized staging window — so the "
    "oracle reproduces the drop set relationally: emitted = the batch "
    "aggregate over non-late rows, dropped = planted. This is the "
    "semantic contract behind every watermark in the module — "
    "measured, not assumed.",
)
def streaming_late_drop(spark, sf_dir):
    return W.run_streaming_late_drop(
        spark,
        read_events(spark, sf_dir),
        cache_key=f"events_latedrop3:{sf_dir}",
    )


@register(
    "streaming_reservoir_sample",
    """
    WITH picked AS (
      SELECT event_id, user_id, value,
             md5(CAST(event_id AS VARCHAR)) AS h
      FROM events
      ORDER BY h, event_id
      LIMIT 64
    )
    SELECT CAST(row_number() OVER (ORDER BY h, event_id) AS INT) AS rk,
           event_id, user_id, value
    FROM picked
    ORDER BY rk
    """,
    doc="bounded UNIFORM SAMPLE maintained at ingest — the deterministic "
    "distributed reservoir: state is the k=64 smallest md5(event_id) "
    "ranks, per micro-batch merge = union + re-top-k. The fold is "
    "IDEMPOTENT (top-k of a union is unchanged by re-merging the same "
    "batch), so at-least-once replay needs no applied-batch sidecar — "
    "the deliberate contrast with the additive folds, whose sidecar "
    "guard exists precisely because they are NOT idempotent. The hash "
    "rank is key-determined, so the drained sample equals the batch "
    "top-k draw over the whole corpus row-for-row under ANY batching; "
    "state is O(k) and each batch reduces map-side in the TakeOrdered "
    "heap before anything shuffles.",
)
def streaming_reservoir_sample(spark, sf_dir):
    stage = _workdir("reservoir_stage")
    target = _workdir("reservoir_state")
    return W.run_streaming_reservoir_sample(
        spark, read_events(spark, sf_dir), stage, target
    )


@register(
    "streaming_group_reservoir",
    """
    WITH ranked AS (
      SELECT event_type, event_id, user_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY md5(CAST(event_id AS VARCHAR)),
                                         event_id) AS rk
      FROM events
    )
    SELECT event_type, CAST(rk AS INT) AS rk, event_id, user_id
    FROM ranked WHERE rk <= 8
    ORDER BY event_type, rk
    """,
    doc="per-GROUP bounded uniform sample at ingest (the streaming twin "
    "of sample_k_per_group): state is the k=8 smallest md5(event_id) "
    "ranks PER event_type, merged per micro-batch by a per-group "
    "windowed top-k — map-side WindowGroupLimit prunes each batch "
    "before the O(groups x k) state union, and the fold is IDEMPOTENT "
    "(replay-safe without the sidecar). Hash ranks are key-determined, "
    "so the drained stratified sample equals the batch per-group draw "
    "row-for-row under any batching — one relational oracle, no batch "
    "bookkeeping.",
)
def streaming_group_reservoir(spark, sf_dir):
    stage = _workdir("gres_stage")
    target = _workdir("gres_state")
    return W.run_streaming_group_reservoir(
        spark, read_events(spark, sf_dir), stage, target
    )


from newyork_taxi_etl_spark.queries.behavior import _W1_SQL  # noqa: E402


@register(
    "streaming_wasserstein_ingest",
    _W1_SQL,
    doc="Wasserstein-1 drift MONITORED AT INGEST — the streaming twin of "
    "wasserstein_value_drift and the monitor a serving team actually "
    "runs: the pre-cutoff reference distribution persists once as "
    "per-tick counts, post-cutoff events arrive as a multi-file "
    "AvailableNow stream, and each micro-batch folds its per-tick "
    "counts into the state table (additive fold, applied-batch replay "
    "guard), with the exact integer W1 computed from reference + "
    "accumulated counts by the SAME w1_from_counts fold the batch "
    "query uses. Per-tick counts are additive across any batching and "
    "every accumulation is integer, so the drained monitor equals the "
    "one-shot batch statistic bit-for-bit — which is exactly what the "
    "shared oracle value-checks. State is O(distinct value ticks) "
    "regardless of stream length.",
)
def streaming_wasserstein_ingest(spark, sf_dir):
    work = _workdir("w1_ingest")
    return W.run_streaming_w1_ingest(
        spark, read_events(spark, sf_dir), work,
        cache_key=f"events_w1:{sf_dir}",
    )


from newyork_taxi_etl_spark.queries.similarity import _MMD_SQL  # noqa: E402
from newyork_taxi_etl_spark.sources.readers import table_path  # noqa: E402


@register(
    "streaming_mmd_ingest",
    _MMD_SQL,
    doc="Moment-kernel MMD drift MONITORED AT INGEST — the kernel twin "
    "of streaming_wasserstein_ingest and the streaming form of "
    "mmd_moment_drift: embeddings arrive as a multi-file AvailableNow "
    "stream and each micro-batch folds its per-(split, side, dim) "
    "DECIMAL sufficient statistics (sx, sxx, cnt) into the state "
    "table (additive fold, applied-batch replay guard); the "
    "closed-form MMD^2 computes from accumulated statistics through "
    "the SAME mmd2_from_partials finisher the batch query uses. "
    "Decimal addition is associative, so the drained monitor equals "
    "the one-shot batch statistic bit-for-bit under any batching — "
    "which the shared oracle value-checks. State is O(splits x sides "
    "x dims) = 256 rows regardless of stream length.",
)
def streaming_mmd_ingest(spark, sf_dir):
    work = _workdir("mmd_ingest")
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    return W.run_streaming_mmd_ingest(
        spark, emb, work, cache_key=f"emb_mmd:{sf_dir}"
    )


@register(
    "streaming_fm_distinct_ingest",
    """
    WITH sh AS (
      SELECT CAST(((doc_id * 2654435761) % 4294967296) % 3 AS INT) + 1
               AS b,
             CASE WHEN len(string_split(text, ' ')) >= 3
                  THEN list_transform(
                         range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(
                                string_split(text, ' ')[i:i+2], ' '))
                  ELSE [] END AS s
      FROM documents
    ),
    tk AS (SELECT b, unnest(s) AS tok FROM sh),
    r AS (
      SELECT b,
             CAST(hv % 64 AS INT) AS g,
             CASE WHEN hv // 64 = 0 THEN 43
                  ELSE CAST(FLOOR(log2((hv // 64) & -(hv // 64))) AS INT)
                       + 1 END AS rho
      FROM (
        SELECT b, CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) AS hv
        FROM tk
      )
    ),
    prefixes AS (SELECT CAST(unnest(range(1, 4)) AS INT) AS p),
    grid AS (
      SELECT p, CAST(unnest(range(0, 64)) AS INT) AS g FROM prefixes
    ),
    mx AS (
      SELECT gr.p, gr.g, COALESCE(MAX(r.rho), 0) AS m
      FROM grid gr LEFT JOIN r ON r.g = gr.g AND r.b <= gr.p
      GROUP BY gr.p, gr.g
    ),
    est AS (
      SELECT p,
             ROUND(0.39701 * 64 * POW(2.0, SUM(m) / 64.0), 6)
               AS fm_estimate
      FROM mx GROUP BY p
    ),
    truth AS (
      SELECT pr.p, CAST(COUNT(DISTINCT tk.tok) AS BIGINT) AS true_distinct
      FROM prefixes pr LEFT JOIN tk ON tk.b <= pr.p
      GROUP BY pr.p
    )
    SELECT e.p AS batch_seq, e.fm_estimate, t.true_distinct,
           ROUND(ABS(e.fm_estimate - t.true_distinct) / t.true_distinct, 6)
             AS rel_err
    FROM est e JOIN truth t ON e.p = t.p
    ORDER BY batch_seq
    """,
    doc="DISTINCT 3-GRAM GROWTH AT INGEST via a 64-group LogLog sketch "
    "(Durand-Flajolet 2003; the max-rank Flajolet-Martin descendant): "
    "3-gram shingles (a growing unit, unlike the 31-word saturating "
    "unigram vocab) stream in deterministic hash micro-batches, each batch "
    "folds MAX(trailing-zero rank) per group — a commutative "
    "IDEMPOTENT monoid, replay-tolerant by algebra on top of the "
    "applied-batch guard — and the vocabulary-growth curve reads "
    "alpha*m*2^(mean rank) after each prefix, with the exact prefix "
    "distinct count reported beside it (measured honesty column, the "
    "novel_ngram_growth comparison).  Integer max-ranks make the fold "
    "bit-exact cross-engine.  State is O(64) forever — the estimator "
    "a 100 TB stream can afford where exact distinct cannot.",
)
def streaming_fm_distinct_ingest(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    work = tempfile.mkdtemp(prefix="nyetl_fmingest_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return W.run_streaming_fm_ingest(
        spark, docs, work, cache_key=f"documents_fm:{sf_dir}"
    )
