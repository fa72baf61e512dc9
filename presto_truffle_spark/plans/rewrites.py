"""Planner-layer DataFrame rewrites — pure-PySpark stand-ins for custom
Catalyst rules (SURVEY.md §4.3).

In Scala these would be ``Rule[LogicalPlan]`` injected via
``spark.sql.extensions``; in pure PySpark the idiomatic equivalent is a
library of plan-shaping functions applied before handing the DataFrame to
Spark. Each rewrite is semantics-preserving (proved by the oracle query
below that routes a join through the salted path) and exists purely to
control the physical plan at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from presto_truffle_spark.catalog import ALWAYS_BROADCAST, load_table
from presto_truffle_spark.registry import query


def broadcast_if_dim(df: DataFrame, table_name: str) -> DataFrame:
    """Broadcast tables that stay broadcast-safe at EVERY scale factor
    (fixed or sublinear cardinality). Everything else is left to AQE's
    runtime size-based decision — hard-coding broadcast for a table that
    grows with the fact data is how 100 TB jobs OOM."""
    return F.broadcast(df) if table_name in ALWAYS_BROADCAST else df


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt_source: str,
    n_salt: int = 8,
) -> DataFrame:
    """Skew-resistant equi-join: split each hot left-side key across
    ``n_salt`` shuffle partitions.

    left rows get a deterministic salt from ``salt_source`` (any column
    that varies within a key group — deterministic so reruns are
    replayable, unlike ``rand()``); right rows are replicated once per
    salt value. The join key becomes (key, salt), so one hot key's rows
    land on n_salt reducers instead of one.

    Cost model: right side is replicated n_salt×, so this is for
    hot-key × small-right joins AQE's skew handling can't fix (e.g. the
    right side is mid-sized — too big to broadcast, small enough to
    replicate 8×). Semantics-preserving: proved by rewrite_salted_join's
    oracle below.
    """
    salted_left = left.withColumn("_salt", F.pmod(F.xxhash64(salt_source), F.lit(n_salt)))
    salts = F.array(*[F.lit(i) for i in range(n_salt)])
    salted_right = right.withColumn("_salt", F.explode(salts))
    joined = salted_left.join(
        salted_right,
        (salted_left[left_key] == salted_right[right_key])
        & (salted_left["_salt"] == salted_right["_salt"]),
    )
    return joined.drop("_salt")


def asof_join_lastward(
    queries_df: DataFrame,
    refs: DataFrame,
    key: str,
    query_ts: str,
    ref_ts: str,
    ref_value_cols: list[str],
) -> DataFrame:
    """Generalized as-of join (latest ref row at-or-before each query row,
    per key) via union-tag + last-observation-carried-forward window —
    ONE shuffle on the key instead of a range-join probe. Ties at equal
    timestamps resolve ref-before-query (``>=`` as-of semantics)."""
    q = queries_df.withColumn("_is_q", F.lit(1)).withColumn("_ts", F.col(query_ts))
    r = refs.withColumn("_is_q", F.lit(0)).withColumn("_ts", F.col(ref_ts))
    # Align schemas: null-fill each side's missing columns (typed).
    q_types, r_types = dict(q.dtypes), dict(r.dtypes)
    for c in sorted(set(r.columns) - set(q.columns)):
        q = q.withColumn(c, F.lit(None).cast(r_types[c]))
    for c in sorted(set(q.columns) - set(r.columns)):
        r = r.withColumn(c, F.lit(None).cast(q_types[c]))
    cols = sorted(q.columns)
    u = q.select(*cols).unionByName(r.select(*cols))
    w = (
        W.partitionBy(key)
        .orderBy("_ts", "_is_q")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    for c in ref_value_cols:
        u = u.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return u.filter(F.col("_is_q") == 1).drop("_is_q", "_ts")


@query(
    "rewrite_salted_join",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_lines,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def rewrite_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted join applied to lineitem⋈orders, aggregated — the oracle
    is the PLAIN join's answer, proving the rewrite is semantics-preserving.
    (orderkey isn't actually skewed in TPC-H; the point is the mechanism,
    verified end-to-end.)"""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    joined = salted_join(li, o, "l_orderkey", "o_orderkey", "l_linenumber", n_salt=4)
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


@query(
    "rewrite_asof_generalized",
    oracle="""
    WITH purchases AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        WHERE event_type = 'purchase'
    ), errors AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS err_ts FROM events
        WHERE event_type = 'error'
    )
    SELECT p.user_id, p.event_id, p.value, e.err_ts AS last_error_ts
    FROM purchases p
    ASOF LEFT JOIN errors e ON p.user_id = e.user_id AND p.ts >= e.err_ts
    """,
)
def rewrite_asof_generalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generalized as-of helper joining purchases to the most recent
    prior error per user (checked against DuckDB's native ASOF JOIN)."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts"), F.col("ts").alias("last_error_ts")
    )
    out = asof_join_lastward(
        purchases, errors, "user_id", "ts", "err_ts", ["last_error_ts"]
    )
    return out.select("user_id", "event_id", "value", "last_error_ts")


_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # fixture scans are tiny; drop the application-side floor so the
    # injection fires at test scale exactly as it would on a 100 TB fact
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # force the shuffle-join path: with a broadcast join Spark prunes via
    # the broadcast hash set itself and a bloom filter would be redundant
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@query(
    "rewrite_bloom_filter_join",
    oracle="""
    SELECT p_type,
           count(*) AS n_items,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) / 100.0 AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#2'
    GROUP BY p_type
    """,
)
def rewrite_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning (Spark 3.3+): when a selective dim
    filter feeds a SHUFFLE join, Catalyst builds a bloom filter from the
    filtered build side and injects `might_contain` into the fact scan —
    fact rows that cannot join are dropped BEFORE the shuffle. At 100 TB
    this is the difference between shuffling the whole fact table and
    shuffling the ~selectivity fraction that survives; it composes with
    (and kicks in exactly when) the broadcast path is unavailable because
    the dim outgrew the broadcast threshold.

    The injection happens at optimization time under session confs, so
    this op sets the confs, materializes the result inside that window
    (localCheckpoint — no driver collect), verifies the filter actually
    fired (raises loudly if `bloom_filter_agg` is absent — a silent
    fallback to an unpruned shuffle would defeat the point), and restores
    the session. Result semantics are filter-agnostic, hence the full
    oracle; revenue sums integer cents (exact in any order)."""
    old = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
        out = (
            li.join(p, li.l_partkey == p.p_partkey)
            .groupBy("p_type")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                (
                    F.sum(
                        F.floor(
                            F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))
                            * 100
                            + F.lit(0.5)
                        )
                    )
                    / 100.0
                ).alias("revenue"),
            )
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        if "bloom_filter_agg" not in plan and "might_contain" not in plan:
            raise RuntimeError(
                "runtime bloom filter was not injected — check the "
                "spark.sql.optimizer.runtime.bloomFilter confs"
            )
        return out.localCheckpoint(eager=True)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
    keys: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Equi-key-less interval join WITHOUT the nested loop: the
    DataFrame-level twin of the Scala ``BinRangeJoin`` optimizer rule
    (native/src/PrestoTruffleExtensions.scala) for the registered-query
    surface, where driver sessions are vanilla and cannot load the jar.

    ``points JOIN intervals ON p BETWEEN lo AND hi`` has no equi
    conjunct, so Spark's only strategy is BroadcastNestedLoopJoin —
    O(|points|·|intervals|), infeasible at 100 TB. This helper joins on
    bin numbers instead: each point carries floor(p/W); each interval
    explodes floor(lo/W)..floor(hi/W); the original predicate re-filters
    bin-collision false positives. floor(x/W) is monotone, so
    lo ≤ p ≤ hi ⇒ bin(p) ∈ [bin(lo), bin(hi)] — no true match is lost —
    and each point has exactly ONE bin, so multiplicity is preserved.
    Inverted / NULL-endpoint intervals are dropped up front (they cannot
    match under inner-join semantics, and Spark's ``sequence`` counts
    DOWN when start > stop rather than returning empty). INNER join
    only: the bin pre-filter on the interval side would change outer
    semantics.

    Pick W near the typical interval width: explode factor is
    (hi−lo)/W + 1 per interval row, while smaller W tightens the
    re-filter's selectivity. Columns must be numeric (cast dates /
    timestamps to day numbers / epoch seconds first).

    ``keys`` (r7) makes this the DataFrame twin of the Scala
    ``BinKeyedRangeJoin`` rule: pairs of (point-side, interval-side)
    column names added as equi conjuncts ALONGSIDE the bin — the
    as-of-with-tolerance shape. Without the bin, Spark would join on
    the keys alone and range-filter post-join: per-key-group cartesian,
    quadratic exactly when keys are low-cardinality and dense (measured
    2.7-3.5× at 1M×100k/200 keys for the rule form — BASELINE.md r7).
    Key columns must be distinctly NAMED across the two frames (rename
    before calling) so the joined output stays unambiguous."""
    w = float(bin_width)
    if not w > 0:
        raise ValueError(f"bin_width must be > 0, got {bin_width!r}")
    # withColumn REPLACES an existing column of the same name and the
    # final drop would then delete the caller's data — refuse loudly
    # instead of silently corrupting (the Scala rule is immune: it
    # allocates fresh attributes).
    pbin, ibin = "__pt_bin__", "__pt_bin_r__"
    clash = ({pbin} & set(points.columns)) | ({ibin} & set(intervals.columns))
    if clash:
        raise ValueError(
            f"binned_range_join reserves column name(s) {sorted(clash)}; "
            "rename them on the input before calling"
        )
    pb = points.withColumn(
        pbin, F.floor(F.col(point_col) / F.lit(w)).cast("long")
    )
    iv = intervals.filter(F.col(lo_col) <= F.col(hi_col)).withColumn(
        ibin,
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(w)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(w)).cast("long"),
            )
        ),
    )
    cond = (
        (pb[pbin] == iv[ibin])
        & (pb[point_col] >= iv[lo_col])
        & (pb[point_col] <= iv[hi_col])
    )
    for pk, ik in keys or []:
        if pk == ik:
            raise ValueError(
                f"key pair {pk!r} is same-named on both sides; rename one "
                "input column so the joined output is unambiguous"
            )
        cond = cond & (pb[pk] == iv[ik])
    joined = pb.join(iv, cond)
    return joined.drop(pbin).drop(ibin)


@query(
    "rewrite_binned_range_join",
    oracle="""
    WITH big AS (
        SELECT o_orderkey,
               datediff('day', DATE '1992-01-01', o_orderdate) AS lo_d,
               datediff('day', DATE '1992-01-01', o_orderdate) + 3 AS hi_d
        FROM orders WHERE o_totalprice > 450000
    )
    SELECT big.o_orderkey,
           CAST(count(*) AS BIGINT) AS n_ship_lines,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM big JOIN lineitem l
      ON datediff('day', DATE '1992-01-01', l.l_shipdate)
         BETWEEN big.lo_d AND big.hi_d
    GROUP BY big.o_orderkey
    """,
)
def rewrite_binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (NO equi key): for every high-value order, count
    the lineitems — of ANY order — that shipped within its 3-day
    follow-on window. The "global blackout / promo window" shape that
    degrades to a nested loop in vanilla Spark; routed through
    ``binned_range_join`` it is an ordinary equi shuffle join on 4-day
    bins (each ≤4-day interval explodes to at most 2 bins). The oracle
    states the declarative BETWEEN join; DuckDB plans it with its native
    IEJoin — two engines, two genuinely different range-join strategies,
    one result. Day numbers via datediff from a fixed epoch on both
    sides, so no timestamp arithmetic leaks into the output (zone-free
    by construction)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    epoch = F.lit("1992-01-01")
    big = o.filter(F.col("o_totalprice") > 450000).select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), epoch).alias("lo_d"),
        (F.datediff(F.col("o_orderdate"), epoch) + 3).alias("hi_d"),
    )
    pts = li.select(
        F.datediff(F.col("l_shipdate"), epoch).alias("ship_d"),
        "l_quantity",
    )
    return (
        binned_range_join(pts, big, "ship_d", "lo_d", "hi_d", 4.0)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_ship_lines"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@query(
    "rewrite_keyed_range_join",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS p_ms
        FROM events WHERE event_type = 'purchase'
    ), e AS (
        SELECT user_id AS e_uid, epoch_ms(CAST(ts AS TIMESTAMP)) AS e_ms
        FROM events WHERE event_type = 'error'
    )
    SELECT p.user_id, p.event_id,
           CAST(count(*) AS BIGINT) AS n_recent_errors,
           CAST(max(e.e_ms) AS BIGINT) AS last_err_ms
    FROM p JOIN e ON e.e_uid = p.user_id
                 AND e.e_ms BETWEEN p.p_ms - 3600000 AND p.p_ms
    GROUP BY p.user_id, p.event_id
    """,
)
def rewrite_keyed_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYED bounded-range join — the as-of-with-tolerance candidate
    shape (r7): for every purchase, the error events of the SAME user in
    the preceding hour, aggregated to a count and the latest error
    timestamp (the tolerance-bounded as-of answer). Routed through
    ``binned_range_join(keys=...)`` — the DataFrame twin of the Scala
    ``BinKeyedRangeJoin`` rule — so the join key is (user, hour-bin)
    instead of the user alone: without the bin, Spark range-filters
    POST-join and each user's purchases × errors is a per-key cartesian,
    quadratic exactly on the power users a 100 TB event log is skewed
    toward. Millisecond numbers via the zone-free NTZ epoch helpers on
    the Spark side and DuckDB's epoch_ms on the oracle side (both
    BIGINT, exact); the oracle states the declarative BETWEEN join and
    lets DuckDB plan it natively — two strategies, one result."""
    from presto_truffle_spark.tztime import epoch_ms

    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", epoch_ms("ts").alias("p_ms"))
        .withColumn("lo_ms", F.col("p_ms") - 3_600_000)
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_uid"), epoch_ms("ts").alias("e_ms")
    )
    j = binned_range_join(
        e, p, "e_ms", "lo_ms", "p_ms", 3_600_000.0, keys=[("e_uid", "user_id")]
    )
    return j.groupBy("user_id", "event_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_recent_errors"),
        F.max("e_ms").cast("long").alias("last_err_ms"),
    )
