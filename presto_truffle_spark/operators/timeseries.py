"""Time-series operators over the `events` table: tumbling / sliding /
session windows, as-of joins, event dedup.

[EXT] surface (SURVEY.md §2.2 "Streaming"; batch-first per the driver's
oracle contract — the Structured Streaming twins of these live in
``presto_truffle_spark/streaming/``).

Scale posture: every operator here shuffles at most once, on
(user_id | bucket) — time-window aggregation over 100 TB of events is a
plain hash aggregate once the window start is computed row-side.
The as-of join avoids the naive range-join blow-up by using a union +
last-observation-carried-forward window, which costs one shuffle on
user_id instead of a per-row range probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from presto_truffle_spark.catalog import load_table
from presto_truffle_spark.registry import query
from presto_truffle_spark.tztime import epoch_ms, epoch_s, epoch_us


@query(
    "events_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows (Spark ``F.window`` ≡ DuckDB ``time_bucket``;
    both align hour buckets to the epoch). The window start is a pure
    row-side expression, so this is one shuffle on (window, type)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "events_sliding_window",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
               - k * INTERVAL '30 minutes' AS window_start,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events CROSS JOIN (VALUES (0), (1)) offsets(k)
    GROUP BY 1
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 30-minute slide. Spark's ``F.window``
    emits one row per window an event falls into (length/slide = 2 here) —
    the oracle reproduces that with an explicit offset cross-join. Row
    amplification = length/slide: keep the ratio small at scale."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


_SESSION_GAP_MIN = 30

_SESSION_ORACLE = f"""
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ), seq AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL '{_SESSION_GAP_MIN} minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM ev
    ), islands AS (
        SELECT user_id, ts, value,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM seq
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '{_SESSION_GAP_MIN} minutes' AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS session_value
    FROM islands
    GROUP BY user_id, session_seq
"""


@query("events_session_window", oracle=_SESSION_ORACLE)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) via Spark's native
    ``session_window`` — windows merge while events arrive within the gap;
    ``end`` = last event + gap. Oracle is the classic gaps-and-islands SQL.
    One shuffle on user_id; state per open session only."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", f"{_SESSION_GAP_MIN} minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@query(
    "events_sessionize_islands",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), seq AS (
        SELECT user_id, event_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL '{_SESSION_GAP_MIN} minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM ev
    )
    SELECT user_id, event_id, ts,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_seq
    FROM seq
    """,
)
def events_sessionize_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level sessionization (assign a per-user session sequence number)
    via lag + running sum — the composable building block behind
    events_session_window, exposed as its own operator.

    Oracle notes: the window ``sum`` must be CAST to BIGINT (DuckDB returns
    HUGEINT, which pandas canonicalizes to float64 and hash-mismatches
    Spark's int64 — round-1 failure), and the gap test runs at microsecond
    precision on both sides so a gap of e.g. 1800.2 s can't classify
    differently (``ts.cast('long')`` truncates to whole seconds; the oracle
    compares the full-precision interval)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = epoch_us("ts")
    gap = ts_us - F.lag(ts_us).over(w)
    is_new = F.when(gap > _SESSION_GAP_MIN * 60 * 1_000_000, 1).otherwise(0)
    return (
        e.select("user_id", "event_id", "ts", is_new.alias("is_new"))
        .select(
            "user_id",
            "event_id",
            "ts",
            F.sum("is_new")
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .alias("session_seq"),
        )
    )


@query(
    "events_asof_join",
    oracle="""
    WITH purchases AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        WHERE event_type = 'purchase'
    ), signups AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS signup_ts FROM events
        WHERE event_type = 'signup'
    )
    SELECT p.user_id, p.event_id, p.ts, p.value, s.signup_ts
    FROM purchases p
    ASOF LEFT JOIN signups s
      ON p.user_id = s.user_id AND p.ts >= s.signup_ts
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest signup at-or-before
    it, per user. Spark has no native ASOF JOIN; the scalable rewrite is
    tag + last-observation-carried-forward window:

        one scan of events (type IN (signup, purchase)) → CASE-projection
        into the tagged union shape → window per user ordered by ts →
        last(signup_ts, ignoreNulls) over rows preceding → keep purchases.

    Cost: ONE scan of events and ONE shuffle on user_id (vs a range
    join's quadratic probe). The tagged shape used to be built as a
    union of two filtered scans; since each event row lands in exactly
    one branch, the CASE-projection over a single IN-filtered scan is
    row-for-row identical and halves the input I/O (r17; plan diff
    plans/r17/events_asof_join_{before,after}.txt — 2 FileScans → 1).
    Equal timestamps: signup sorts before the purchase (tag order), so
    ``>=`` semantics match DuckDB's ASOF.
    """
    e = load_table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    tagged = e.filter(is_p | (F.col("event_type") == "signup")).select(
        "user_id",
        F.when(is_p, F.col("event_id")).alias("event_id"),
        "ts",
        F.when(is_p, F.col("value")).alias("value"),
        F.when(~is_p, F.col("ts")).alias("signup_ts"),
        F.when(is_p, F.lit(1)).otherwise(F.lit(0)).alias("is_query"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_query")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        tagged.withColumn("signup_ts", F.last("signup_ts", ignorenulls=True).over(w))
        .filter(F.col("is_query") == 1)
        .select("user_id", "event_id", "ts", "value", "signup_ts")
    )


@query(
    "events_dedup_first_per_key",
    oracle="""
    SELECT user_id, event_type, event_id, ts FROM (
        SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events)
    WHERE rn = 1
    """,
)
def events_dedup_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the earliest event per (user, type) — the batch
    twin of streaming ``dropDuplicatesWithinWatermark``. row_number (not
    ``dropDuplicates``) so "which duplicate survives" is deterministic."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.select("user_id", "event_type", "event_id", "ts", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "events_rate_per_user",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_errors,
           round(count(*) FILTER (WHERE event_type = 'error')
                 * 1.0 / count(*), 6) AS error_rate,
           CAST(min(ts) AS TIMESTAMP) AS first_seen,
           CAST(max(ts) AS TIMESTAMP) AS last_seen
    FROM events
    GROUP BY user_id
    """,
)
def events_rate_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity profile with conditional aggregation (FILTER ≡
    count_if)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
        F.round(
            F.count_if(F.col("event_type") == "error") / F.count(F.lit(1)), 6
        ).alias("error_rate"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )


@query(
    "events_funnel_conversion",
    oracle="""
    WITH s AS (
        SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), v AS (
        SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t1
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'view' AND CAST(e.ts AS TIMESTAMP) >= s.t0
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= v.t1
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM v) AS n_view_after_signup,
           (SELECT count(*) FROM p) AS n_purchase_after_view
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → view → purchase): per user, each stage
    counts only events at-or-after the user's FIRST completion of the
    previous stage — the sequential-pattern query every product-analytics
    engine special-cases (Presto's sequence_match).

    Single-pass shape (r18, guide §2.4; before: three filtered scans of
    events chained by per-stage join+groupBy ladders and two crossJoins —
    12 scan refs / 26 Exchange refs in the plan): ONE scan with
    event_type IN (signup, view, purchase) pushed to parquet, ONE
    user_id Exchange, and three whole-partition window minima chained in
    the same partitioning — t0 = min signup ts, t1 = min view ts ≥ t0,
    t2 = min purchase ts ≥ t1 (a conditional min referencing the
    previous stage's window column; null t0/t1 disqualifies exactly like
    the old inner joins did). Stage counts are then count(non-null) of
    the per-user stage timestamps — value-identical to counting the old
    s/v/p group rows. With pre-partitioning by user_id the windows are
    exchange-free at any scale; no per-user event ordering is ever
    materialized (unordered whole-partition frames only)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    x = (
        e.filter(F.col("event_type").isin("signup", "view", "purchase"))
        .select("user_id", "event_type", "ts")
        .withColumn(
            "t0",
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w),
        )
        .withColumn(
            "t1",
            F.min(
                F.when(
                    (F.col("event_type") == "view") & (F.col("ts") >= F.col("t0")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = x.groupBy("user_id").agg(
        F.max("t0").alias("t0"), F.max("t1").alias("t1"), F.max("t2").alias("t2")
    )
    return per_user.agg(
        F.count("t0").alias("n_signup"),
        F.count("t1").alias("n_view_after_signup"),
        F.count("t2").alias("n_purchase_after_view"),
    )


@query(
    "events_asof_nearest",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'purchase'
    ), e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'error'
    ), cand AS (
        SELECT p.user_id, p.event_id, e.ts AS err_ts,
               abs(epoch_ms(e.ts) - epoch_ms(p.ts)) AS dist_ms,
               row_number() OVER (
                   PARTITION BY p.user_id, p.event_id
                   ORDER BY abs(epoch_ms(e.ts) - epoch_ms(p.ts)),
                            CASE WHEN e.ts <= p.ts THEN 0 ELSE 1 END
               ) AS rn
        FROM p JOIN e ON p.user_id = e.user_id
    )
    SELECT user_id, event_id, err_ts AS nearest_err_ts,
           CAST(dist_ms AS BIGINT) AS dist_ms
    FROM cand WHERE rn = 1
    """,
)
def events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional as-of: each purchase matched to its NEAREST error
    event in time (either direction) for the same user, ties preferring
    the earlier (backward) side — the sensor-alignment primitive when the
    reference stream can lag OR lead (asof_join_lastward covers only the
    backward half; DuckDB's native ASOF likewise).

    Plan (single-pass since r18, guide §2.4; before: two independent
    union-LOCF passes, each building its own purchase/error scans, glued
    by a (user_id, event_id, ts) join — 8 scan refs / 6 Exchanges): ONE
    scan with event_type IN (purchase, error) pushed to parquet and a
    tagged projection (no union — the tag IS the row's role), then TWO
    LOCF windows over the SAME user_id Exchange — ascending (ts, tag)
    carries the last error ts ≤ t, descending ts with errors-first
    carries the first error ts ≥ t; both windows put a same-ts error
    before the purchase, preserving the lastward helper's inclusive
    at-or-before/at-or-after tie rule — and a row-local min-distance
    pick on the purchase rows. Never a per-user cross join: the oracle's
    candidate set is |purchases|×|errors| per user (fine for DuckDB at
    fixture scale, quadratic at 100 TB), while the Spark side stays
    O(n log n) sort-shuffle like every other as-of here."""
    e = load_table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    u = (
        e.filter(F.col("event_type").isin("purchase", "error"))
        .select(
            "user_id",
            F.when(is_p, F.col("event_id")).alias("event_id"),
            "ts",
            F.when(is_p, F.lit(1)).otherwise(F.lit(0)).alias("_is_q"),
            F.when(~is_p, F.col("ts")).alias("_err_ts"),
        )
    )
    wb = (
        W.partitionBy("user_id")
        .orderBy("ts", "_is_q")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("_is_q").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    both = (
        u.withColumn("b_ts", F.last("_err_ts", ignorenulls=True).over(wb))
        .withColumn("f_ts", F.last("_err_ts", ignorenulls=True).over(wf))
        .filter(F.col("_is_q") == 1)
    )
    b_dist = epoch_ms("ts") - epoch_ms("b_ts")
    f_dist = epoch_ms("f_ts") - epoch_ms("ts")
    pick_back = F.col("b_ts").isNotNull() & (
        F.col("f_ts").isNull() | (b_dist <= f_dist)
    )
    return (
        both.filter(F.col("b_ts").isNotNull() | F.col("f_ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.when(pick_back, F.col("b_ts")).otherwise(F.col("f_ts")).alias(
                "nearest_err_ts"
            ),
            F.when(pick_back, b_dist).otherwise(f_dist).alias("dist_ms"),
        )
    )


@query(
    "events_session_dynamic_gap",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CAST(ts AS TIMESTAMP)
               + CASE WHEN event_type = 'purchase'
                      THEN INTERVAL 30 MINUTE
                      ELSE INTERVAL 10 MINUTE END AS fin
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, ts, fin,
               CASE WHEN COALESCE(
                        ts > max(fin) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING),
                        TRUE)
                    THEN 1 ELSE 0 END AS new_s
        FROM ev
    ), sess AS (
        SELECT user_id, ts, fin,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(fin) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
)
def events_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a PER-EVENT gap — purchases hold a session
    open 30 minutes, everything else 10 — via Spark's builtin
    ``session_window(ts, gap_expr)``, the dynamic-gap form (a capability
    the islands rewrite in events_sessionize_islands doesn't need but
    real funnels do: high-intent actions extend sessions).

    Differential value: the Spark side runs the engine's native
    session-merge operator while the oracle states the DECLARATIVE spec
    — each event spans [ts, ts+gap); sessions are the connected unions
    of overlapping spans (running-max-of-ends island detection) — so
    the hash equality checks Spark's stateful merge implementation
    against the mathematical definition, not against a re-spelling of
    itself. Touching boundaries (next ts == running end) MERGE in both
    formulations (Spark merges on start <= end; the oracle starts new
    sessions only on strict >).

    Scale posture: one shuffle on user_id (the session assembly is
    per-key and Spark sorts within partitions); output is bounded by
    session count. Stays NTZ end-to-end — session_window preserves
    timestamp_ntz in batch, so no zone surface (tztime.py doctrine)."""
    e = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    return (
        e.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "events_seasonality_profile",
    oracle="""
    WITH cells AS (
        SELECT event_type,
               CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER)
                 AS hour_of_day,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1, 2
    ), stats AS (
        SELECT event_type, hour_of_day, n_events,
               sum(n_events) OVER (PARTITION BY event_type) AS sx,
               sum(n_events * n_events) OVER (PARTITION BY event_type)
                 AS sxx,
               count(*) OVER (PARTITION BY event_type) AS h
        FROM cells
    )
    SELECT event_type, hour_of_day, n_events,
           round((n_events - sx * 1.0 / h)
                 / sqrt(nullif(sxx * 1.0 / h - (sx * 1.0 / h) * (sx * 1.0 / h),
                               0.0)),
                 4) AS hour_zscore
    FROM stats
    """,
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type: each (type, hour)
    cell's volume plus its z-score against that type's own 24-cell
    hourly distribution — the detect-the-traffic-anomaly /
    learn-the-daily-shape primitive behind alerting baselines and
    crawl scheduling.

    Zone-proof by construction: ``hour()`` on the NTZ timestamp is a
    pure field extraction (tztime.py — no LTZ round-trip, verified
    under non-UTC sessions). Determinism: the z-score's inputs are
    EXACT integers (cell count, per-type sum and sum-of-squares folded
    by a window over the 24-cell table), combined in a textually
    identical double expression on both engines — one sqrt, one divide,
    rounded to 4dp (the ln()-convention from TF-IDF, driver-green since
    r1, applied to sqrt).

    Scale shape: one scan folds the corpus to type×24 cells (map-side
    combinable groupBy — the only corpus-sized stage), then the window
    runs on the CELL table, bounded by types×24 regardless of corpus
    size; partitioned by type, so no single-partition window. At 100 TB
    this is the textbook two-level aggregate: shuffle carries one row
    per (type, hour) per task."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select("event_type", F.hour("ts").alias("hour_of_day"))
        .groupBy("event_type", "hour_of_day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    w = W.partitionBy("event_type")
    stats = cells.select(
        "event_type",
        "hour_of_day",
        "n_events",
        F.sum("n_events").over(w).alias("sx"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("sxx"),
        F.count(F.lit(1)).over(w).alias("h"),
    )
    mean = F.col("sx") * 1.0 / F.col("h")
    var = F.col("sxx") * 1.0 / F.col("h") - mean * mean
    # nullif guard: a zero-variance hour grid (tiny or degenerate
    # corpus) must yield NULL z, not an ANSI divide-by-zero (Spark
    # raises where DuckDB returns inf — both sides spell nullif).
    return stats.select(
        "event_type",
        "hour_of_day",
        "n_events",
        F.round(
            (F.col("n_events") - mean) / F.sqrt(F.nullif(var, F.lit(0.0))), 4
        ).alias("hour_zscore"),
    )


@query(
    "events_seasonal_anomaly",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(ts AS DATE) AS event_date,
               CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER)
                 AS hour_of_day,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1, 2, 3
    ), base AS (
        SELECT event_type, hour_of_day,
               sum(n_events) AS sx,
               sum(n_events * n_events) AS sxx,
               count(*) AS nd
        FROM daily
        GROUP BY 1, 2
    )
    SELECT d.event_type, d.event_date, d.hour_of_day, d.n_events,
           round((d.n_events - b.sx * 1.0 / b.nd)
                 / sqrt(nullif(b.sxx * 1.0 / b.nd
                               - (b.sx * 1.0 / b.nd) * (b.sx * 1.0 / b.nd),
                               0.0)),
                 4) AS zscore
    FROM daily d JOIN base b
      ON d.event_type = b.event_type AND d.hour_of_day = b.hour_of_day
    WHERE abs((d.n_events - b.sx * 1.0 / b.nd)
              / sqrt(nullif(b.sxx * 1.0 / b.nd
                            - (b.sx * 1.0 / b.nd) * (b.sx * 1.0 / b.nd),
                            0.0))) > 2.5
    """,
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection — the alerting query the
    seasonality profile exists to feed: each (type, date, hour) cell's
    volume z-scored against that type's SAME-HOUR baseline across all
    days, anomalous cells (|z| > 2.5) returned. "Tuesday 3am is quiet"
    is not an anomaly; "THIS Tuesday 3am is 4x its usual 3am" is — the
    per-hour baseline is what separates the two.

    Determinism: the baseline is exact integer power sums over daily
    cells (sum, sum-of-squares, day count — never the built-in stddev,
    whose Welford merges are accumulation-order-dependent), combined in
    a textually identical double expression on both engines; the
    UNROUNDED z drives the threshold (identical IEEE op tree on
    identical exact integers ⇒ identical doubles ⇒ identical cut), the
    displayed z rounds to 4dp. CAST-to-DATE and hour() on NTZ are pure
    field extractions — zone-proof (tztime.py).

    Scale shape: the corpus folds ONCE to (type, date, hour) daily
    cells; the baseline folds the CELL table (types x 24 rows) and
    broadcast-joins back onto cells. Cell cardinality grows with the
    calendar and type catalog, never the event volume — at 100 TB the
    only corpus-sized stage is the first map-combinable groupBy. The
    cell table is scoped_persisted (a REDUCED intermediate consumed by
    both the baseline fold and the join probe — without the cache each
    consumer re-ran the corpus scan+fold; rescan-audit rule,
    SCALING.md r5)."""
    from presto_truffle_spark.cache import scoped_persist

    ev = load_table(spark, sf_dir, "events")
    daily = scoped_persist(spark, "timeseries.seasonal_anomaly.daily", (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("event_date"),
            F.hour("ts").alias("hour_of_day"),
        )
        .groupBy("event_type", "event_date", "hour_of_day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    ))
    base = daily.groupBy("event_type", "hour_of_day").agg(
        F.sum("n_events").alias("sx"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("sxx"),
        F.count(F.lit(1)).alias("nd"),
    )
    mean = F.col("sx") * 1.0 / F.col("nd")
    # nullif guard: zero-variance baselines (constant daily counts on a
    # tiny corpus) yield NULL z — filtered, never an ANSI div-by-zero.
    z = (F.col("n_events") - mean) / F.sqrt(
        F.nullif(F.col("sxx") * 1.0 / F.col("nd") - mean * mean, F.lit(0.0))
    )
    return (
        daily.join(F.broadcast(base), ["event_type", "hour_of_day"])
        .filter(F.abs(z) > 2.5)
        .select(
            "event_type",
            "event_date",
            "hour_of_day",
            "n_events",
            F.round(z, 4).alias("zscore"),
        )
    )


@query(
    "events_attribution_linear",
    oracle="""
    WITH conv AS (
        SELECT user_id, event_id AS conv_id,
               epoch(CAST(ts AS TIMESTAMP)) AS cs
        FROM events WHERE event_type = 'purchase'
    ), touch AS (
        SELECT user_id, event_type AS touch_type,
               epoch(CAST(ts AS TIMESTAMP)) AS ts_s
        FROM events WHERE event_type IN ('click', 'view')
    ), pairs AS (
        SELECT c.conv_id, t.touch_type,
               count(*) OVER (PARTITION BY c.conv_id) AS n_touches
        FROM conv c JOIN touch t ON c.user_id = t.user_id
        WHERE t.ts_s < c.cs AND t.ts_s >= c.cs - 604800
    )
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS n_credited,
           CAST(sum(1000000 // n_touches) AS BIGINT) AS credit_ppm
    FROM pairs
    GROUP BY touch_type
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — each conversion ('purchase')
    splits one unit of credit equally across the user's touchpoints
    ('click'/'view') in the preceding 7 days; per touch type, the count
    of credited touches and the total credit earned. The
    marketing-analytics primitive behind channel ROI; the same join
    shape scores retrieval-augmented provenance ("which sources fed
    this output").

    Determinism: credit is INTEGER parts-per-million (1e6 div n) — the
    bigram-surprisal convention — so the sum is exact in any
    accumulation order; no FP 1/n anywhere. Time window in epoch
    seconds of the naive timestamp (tztime.epoch_s ≡ DuckDB
    epoch(naive) — zone-proof).

    Scale shape: the conversion-touch pairing is a per-USER block join
    (one shuffle on user_id; block size = that user's activity, never
    the corpus — the market-basket discipline with the user as basket),
    the per-conversion fan-out count is a window over conv_id within
    the same blocks, and the final fold is a tiny groupBy on touch
    type. A pathological power-user blows only their own block — the
    production guard is the same activity cap as dedup_lsh_bucket_guard
    applied to the touch stream."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        epoch_s("ts").alias("cs"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_type").alias("touch_type"),
        epoch_s("ts").alias("ts_s"),
    )
    pairs = (
        conv.join(touch, "user_id")
        .filter(
            (F.col("ts_s") < F.col("cs"))
            & (F.col("ts_s") >= F.col("cs") - 604800)
        )
        .select(
            "conv_id",
            "touch_type",
            F.count(F.lit(1))
            .over(W.partitionBy("conv_id"))
            .alias("n_touches"),
        )
    )
    return pairs.groupBy("touch_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_credited"),
        F.sum(F.expr("1000000 div n_touches")).cast("long").alias("credit_ppm"),
    )


@query(
    "events_funnel_latency",
    oracle="""
    WITH fv AS (
        SELECT user_id,
               min(CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP)))
                        AS BIGINT)) AS first_view_s
        FROM events WHERE event_type = 'view'
        GROUP BY user_id
    ), conv AS (
        SELECT e.user_id,
               min(CAST(epoch(date_trunc('second', CAST(e.ts AS TIMESTAMP)))
                        AS BIGINT)) - any_value(fv.first_view_s) AS latency_s
        FROM events e JOIN fv ON e.user_id = fv.user_id
        WHERE e.event_type = 'purchase'
          AND CAST(epoch(date_trunc('second', CAST(e.ts AS TIMESTAMP)))
                   AS BIGINT) > fv.first_view_s
        GROUP BY e.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(latency_s, 0.25), 4) AS p25_s,
           round(quantile_cont(latency_s, 0.50), 4) AS p50_s,
           round(quantile_cont(latency_s, 0.75), 4) AS p75_s
    FROM conv
    """,
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency — the time-to-convert distribution that turns
    funnel COUNTS (events_funnel_conversion) into an actionable number:
    per user, seconds from the first 'view' to the first 'purchase'
    strictly after it, folded to exact interpolated quartiles. "80% of
    converters do so within X hours" is this query's p-row.

    Latencies are exact integer second differences of the naive
    timestamp — the oracle date_truncs to whole seconds before epoch()
    because DuckDB's epoch() keeps fractional seconds while Spark's
    timestamp_diff SECOND floors (the pinned fractional-second
    divergence, FIXTURES.md r9) — zone-proof;
    quartiles follow the agg_percentiles convention (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, one array-form call
    carrying a single value-counts map through the shuffle, round 4).

    Scale shape: two map-combinable per-user folds (first view; first
    qualifying purchase via a min over the user's purchases joined to
    the broadcast-sized first-view table — at 100 TB that join is
    user-keyed and co-partitioned with the second fold's shuffle), then
    one exact-percentile aggregate over the per-user latency table,
    which is USER-cardinality, not event-cardinality. For corpora where
    even users are too many to buffer, swap the exact percentile for
    percentile_approx — the documented agg_percentile_approx path."""
    ev = load_table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(epoch_s("ts")).alias("first_view_s"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", epoch_s("ts").alias("p_s"))
        .join(fv, "user_id")
        .filter(F.col("p_s") > F.col("first_view_s"))
        .groupBy("user_id")
        .agg(
            (F.min("p_s") - F.any_value("first_view_s")).alias("latency_s")
        )
    )
    pcts = F.percentile(
        "latency_s", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        pcts.alias("pcts"),
    ).select(
        "n_converted",
        F.round(F.col("pcts")[0], 4).alias("p25_s"),
        F.round(F.col("pcts")[1], 4).alias("p50_s"),
        F.round(F.col("pcts")[2], 4).alias("p75_s"),
    )


@query(
    "events_rank_migration",
    oracle="""
    WITH wk AS (
        SELECT user_id,
               CAST(epoch(date_trunc('week', CAST(ts AS TIMESTAMP)))
                    AS BIGINT) AS ws,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1, 2
    ), ranked AS (
        SELECT user_id, ws,
               ntile(4) OVER (PARTITION BY ws ORDER BY n DESC, user_id)
                 AS quartile
        FROM wk
    )
    SELECT a.quartile AS q_from, b.quartile AS q_to,
           CAST(count(*) AS BIGINT) AS n_users
    FROM ranked a JOIN ranked b
      ON a.user_id = b.user_id AND b.ws = a.ws + 604800
    GROUP BY 1, 2
    """,
)
def events_rank_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-rank migration matrix — users quartiled by weekly
    activity, transitions counted week-over-week: the churn-risk /
    cohort-movement primitive ("how many top-quartile users fell to the
    bottom next week"). A 4x4 matrix with heavy diagonal = stable
    engagement; heavy below-diagonal = decay.

    Determinism: ntile over a TOTAL order (count DESC, user_id ASC) so
    equal-activity users bucket identically on both engines; weeks join
    on exact epoch-seconds of the Monday-aligned week start
    (tztime.trunc_ntz carries the epoch-Thursday shift and is
    property-tested against DuckDB date_trunc — zone-proof, no
    NTZ->LTZ cast).

    Scale shape: corpus folds to (user, week) counts in one
    map-combinable groupBy; the ntile window partitions BY WEEK (never
    global — each partition is one week's user set); the week-over-week
    transition is a LAG window per user (r18, guide §2.4 — the old
    adjacent-week SELF-join re-ran the whole fold+ntile pipeline per
    side, two corpus scans for one reduced table; (user, ws) is unique
    after the fold, so lag(1) filtered to prev_ws = ws − 604800
    produces exactly the join's adjacent pairs); the final fold is a
    16-cell matrix. All post-fold stages are user-cardinality."""
    ev = load_table(spark, sf_dir, "events")
    from presto_truffle_spark.tztime import trunc_ntz

    wk = (
        ev.select("user_id", epoch_s(trunc_ntz("week", "ts")).alias("ws"))
        .groupBy("user_id", "ws")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ranked = wk.select(
        "user_id",
        "ws",
        F.ntile(4)
        .over(
            W.partitionBy("ws").orderBy(F.col("n").desc(), F.col("user_id"))
        )
        .alias("quartile"),
    )
    wlag = W.partitionBy("user_id").orderBy("ws")
    return (
        ranked.select(
            "ws",
            "quartile",
            F.lag("ws").over(wlag).alias("prev_ws"),
            F.lag("quartile").over(wlag).alias("q_from"),
        )
        .filter(F.col("prev_ws") == F.col("ws") - 604800)
        .groupBy("q_from", F.col("quartile").alias("q_to"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@query(
    "events_survival_curve",
    oracle="""
    WITH death AS (
        SELECT user_id, max(CAST(ts AS DATE)) AS dday
        FROM events GROUP BY user_id
    ), byday AS (
        SELECT dday, CAST(count(*) AS BIGINT) AS d
        FROM death GROUP BY dday
    ), risk AS (
        SELECT dday, d,
               sum(d) OVER (ORDER BY dday DESC) AS r
        FROM byday
    )
    SELECT dday AS day, d AS n_churned, CAST(r AS BIGINT) AS n_at_risk,
           round((r - d) * 1.0 / max(r) OVER (), 6) AS survival
    FROM risk
    """,
)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes — churn day =
    each user's LAST active date, S(t) = Π_{s<=t} (1 − d_s/r_s) with
    d_s = churns on day s and r_s = users still at risk — the
    retention curve product analytics teams fit cohorts against.

    With a complete observation window (zero censoring) the KM product
    TELESCOPES: Π (r_s−d_s)/r_s = (r_t − d_t)/N, so survival is the
    exact integer ratio — no ln/exp product machinery and no ln(0) on
    the final day, where everyone remaining churns and the naive
    product spelling RAISES in DuckDB (probed live: 'cannot take
    logarithm of zero') while Spark's ln(0) yields NULL — a real
    engine fork the closed form sidesteps entirely. Censored data
    breaks the telescope; that variant needs the guarded
    exp(Σ ln(nullif(...))) spelling plus an explicit zero-hazard
    branch. The at-risk count is a DESCENDING cumulative sum over the
    day table (suffix sum ≡ reversed prefix sum), N = max(r) over the
    same 30 rows — no second corpus pass.

    Scale shape: ONE corpus fold to per-user last-activity (the only
    event-volume stage, map-combinable max), one fold to the DAY table
    (calendar-bounded), and both windows run on those ~30 rows —
    deliberately single-partition over the reduced table (the
    skyline/zipf discipline). CAST-to-DATE on NTZ is zone-proof."""
    ev = load_table(spark, sf_dir, "events")
    death = ev.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("dday")
    )
    byday = death.groupBy("dday").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    risk = byday.withColumn(
        "r",
        F.sum("d").over(
            W.orderBy(F.col("dday").desc()).rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        ),
    )
    n_total = F.max("r").over(W.partitionBy())
    return risk.select(
        F.col("dday").alias("day"),
        F.col("d").alias("n_churned"),
        F.col("r").cast("long").alias("n_at_risk"),
        F.round((F.col("r") - F.col("d")) * 1.0 / n_total, 6).alias(
            "survival"
        ),
    )


# Persist the autocorrelation day fold only when the on-disk events are at
# least this large; the same crossover reasoning as text.py's
# _TFIDF_PERSIST_MIN_BYTES.
_AUTOCORR_PERSIST_MIN_BYTES = 256 << 20


@query(
    "events_autocorrelation",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch(date_trunc('day', CAST(ts AS TIMESTAMP)))
                    AS BIGINT) // 86400 AS d,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), lags AS (
        SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag
    ), pairs AS (
        SELECT l.lag, a.y AS x, b.y AS y
        FROM daily a JOIN lags l ON true
        JOIN daily b ON b.d = a.d + l.lag
    ), s AS (
        SELECT lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        FROM pairs GROUP BY lag
    )
    SELECT lag, CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)),
                 4) AS autocorr
    FROM s
    """,
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily event-count series — the
    weekly-cycle detector that tells you WHETHER the seasonality
    profile has a period worth modeling (a lag-7 spike = weekly
    rhythm; all-lags-flat = white noise; slow decay = trend). Pearson r
    per lag from INTEGER power sums over the lagged pairs — daily
    counts are exact, the sums are exact (30 days of counts are far
    below 2^53), and the one double expression per lag is textually
    identical on both engines, rounded 4dp.

    Scale shape: one corpus fold to the DAY table (epoch-day integer
    key — zone-proof via date_trunc on the naive timestamp ≡
    trunc_ntz), then all seven lags come from ONE self-join of that
    calendar-bounded table against the 7-row lag list — never seven
    corpus passes, and never a window per lag. Everything after the
    first fold is ~30x7 rows.

    The lag self-join consumes the day fold on BOTH sides, so without a
    cache each side re-runs the corpus scan + day fold (r18 rescan
    audit). The fold is persisted only at or above
    ``_AUTOCORR_PERSIST_MIN_BYTES`` of on-disk events: below it the two
    scans run in parallel on idle cores and the per-invocation cache
    build is the slower path (+1.6 s sf0.1 median, VERDICT r18); at
    scale the persist deletes a corpus scan. Both plan shapes are pinned
    (tests/test_plans_r18.py)."""
    from presto_truffle_spark.cache import input_bytes, scoped_persist
    from presto_truffle_spark.tztime import trunc_ntz

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            (epoch_s(trunc_ntz("day", "ts")) / 86400)
            .cast("long")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    if input_bytes(sf_dir, "events") >= _AUTOCORR_PERSIST_MIN_BYTES:
        daily = scoped_persist(spark, "timeseries.autocorr.daily", daily)
    lags = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(i) for i in range(1, 8)])
        ).alias("lag")
    )
    a = daily.select(F.col("d").alias("da"), F.col("y").alias("x"))
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * 1.0
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        F.round(num / den, 4).alias("autocorr"),
    )


@query(
    "events_cohort_ltv_curve",
    oracle="""
    WITH wk AS (
        SELECT user_id,
               CAST(epoch(date_trunc('week', CAST(ts AS TIMESTAMP)))
                    AS BIGINT) AS ws,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                    ELSE 0 END AS cents
        FROM events
    ), cohort AS (
        SELECT user_id, min(ws) AS cw FROM wk GROUP BY user_id
    ), sizes AS (
        SELECT cw, CAST(count(*) AS BIGINT) AS cohort_users
        FROM cohort GROUP BY cw
    ), cells AS (
        SELECT c.cw, (w.ws - c.cw) // 604800 AS age_weeks,
               CAST(sum(w.cents) AS BIGINT) AS cents
        FROM wk w JOIN cohort c ON w.user_id = c.user_id
        GROUP BY 1, 2
    )
    SELECT cells.cw AS cohort_week_start, age_weeks,
           CAST(sum(cents) OVER (PARTITION BY cells.cw ORDER BY age_weeks)
                AS BIGINT) AS cum_revenue_cents,
           s.cohort_users,
           CAST(sum(cents) OVER (PARTITION BY cells.cw ORDER BY age_weeks)
                // s.cohort_users AS BIGINT) AS ltv_cents_per_user
    FROM cells JOIN sizes s ON cells.cw = s.cw
    """,
)
def events_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve — cumulative purchase revenue per cohort-age
    week, absolute and per cohort user: the value-axis complement to
    events_retention_cohorts' activity triangle ("week-1 signups are
    worth X cents/user by age 3"), and the payback-period table
    marketing spend is judged against.

    All integer: revenue in cents (the streaming convention's
    floor(x*100+0.5)), cohort assignment by Monday-aligned epoch-week
    (trunc_ntz — zone-proof), per-user LTV by integer div.

    Scale shape (single-pass since r18, guide §2.4; before: the raw
    tagged frame was consumed by the cohort groupBy AND the cells join
    — three corpus scan refs and a user_id join): one corpus pass folds
    to (user, week) cent sums (map-combinable, exact integers in any
    order), cohort assignment is a whole-partition window min over the
    user (no join), the (cohort, age) cell table is calendar²-bounded,
    and cohort size falls out of the SAME cell fold — every user is
    active in their cohort week, so the age-0 cell's distinct-user
    count IS the cohort size (a per-cohort window max, no sizes join).
    The cumulative window partitions BY COHORT over the cell table."""
    from presto_truffle_spark.tztime import trunc_ntz

    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        epoch_s(trunc_ntz("week", "ts")).alias("ws"),
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        )
        .otherwise(0)
        .alias("cents"),
    ).groupBy("user_id", "ws").agg(F.sum("cents").cast("long").alias("cents"))
    uw = uw.withColumn(
        "cw", F.min("ws").over(W.partitionBy("user_id"))
    )
    cells = uw.groupBy(
        "cw", F.expr("(ws - cw) div 604800").alias("age_weeks")
    ).agg(
        F.sum("cents").cast("long").alias("cents"),
        # rows here are (user, week)-unique, so the age-0 cell's row
        # count is the number of users whose first week is cw
        F.count(F.lit(1)).cast("long").alias("n_user_weeks"),
    )
    wc = W.partitionBy("cw")
    cum = F.sum("cents").over(
        wc.orderBy("age_weeks").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cohort_users = F.max(
        F.when(F.col("age_weeks") == 0, F.col("n_user_weeks"))
    ).over(wc)
    return cells.select(
        F.col("cw").alias("cohort_week_start"),
        "age_weeks",
        cum.cast("long").alias("cum_revenue_cents"),
        cohort_users.alias("cohort_users"),
        F.expr(
            "CAST(sum(cents) OVER (PARTITION BY cw ORDER BY age_weeks "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "div (max(CASE WHEN age_weeks = 0 THEN n_user_weeks END) "
            "OVER (PARTITION BY cw)) AS BIGINT)"
        ).alias("ltv_cents_per_user"),
    )


@query(
    "events_sequence_violations",
    oracle="""
    WITH first_signup AS (
        SELECT user_id,
               min(CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP)))
                        AS BIGINT)) AS s0
        FROM events WHERE event_type = 'signup'
        GROUP BY user_id
    ), acts AS (
        SELECT e.user_id, e.event_type,
               CAST(epoch(date_trunc('second', CAST(e.ts AS TIMESTAMP)))
                    AS BIGINT) AS t,
               f.s0
        FROM events e LEFT JOIN first_signup f ON e.user_id = f.user_id
        WHERE e.event_type IN ('purchase', 'click', 'view')
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN s0 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphan,
           CAST(sum(CASE WHEN s0 IS NOT NULL AND t < s0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_before_signup
    FROM acts
    GROUP BY event_type
    """,
)
def events_sequence_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causality audit over the event log — per activity type, how many
    events belong to users who NEVER signed up (orphans: broken
    identity stitching or bot traffic) and how many happened BEFORE
    the user's first signup (clock skew, backfilled imports, or replay
    bugs). The data-quality gate run before any funnel/attribution
    query is trusted — this fixture fails it loudly (every type has
    pre-signup activity), which is exactly the finding: synthetic
    event generators rarely model causality, and neither do broken
    pipelines.

    One fold to per-user first-signup (map-combinable min), one LEFT
    join from the activity stream (broadcast-able at fixture scale,
    key-shuffled at 100 TB — same key as every other per-user op, so
    co-partitioning amortizes it), one grouped count. Whole-second
    epoch on both sides (the pinned fractional-second discipline);
    zone-proof."""
    ev = load_table(spark, sf_dir, "events")
    first_signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(epoch_s("ts")).alias("s0"))
    )
    acts = (
        ev.filter(F.col("event_type").isin("purchase", "click", "view"))
        .select("user_id", "event_type", epoch_s("ts").alias("t"))
        .join(first_signup, "user_id", "left")
    )
    return acts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("s0").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_orphan"),
        F.sum(
            F.when(
                F.col("s0").isNotNull() & (F.col("t") < F.col("s0")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_before_signup"),
    )
