"""Coverage completers for SURVEY.md §2.2 rows not exercised elsewhere:
right join, null-safe equality, GROUPING SETS, map functions, the full UDF
surface (row-scalar UDF, grouped-map applyInPandas), the columnar cache,
and order-preserving set ops.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from presto_truffle_spark.catalog import load_table, register_views
from presto_truffle_spark.registry import query


@query(
    "join_right_outer",
    oracle="""
    SELECT p_partkey, p_name, l_orderkey, l_quantity
    FROM lineitem RIGHT JOIN part
      ON l_partkey = p_partkey AND l_quantity > 45
    WHERE p_partkey <= 200
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join with a join-side predicate (unmatched parts keep
    NULL lineitem columns). Spark physically flips it to a left join —
    same plan cost either way."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return li.join(
        p, (li.l_partkey == p.p_partkey) & (li.l_quantity > 45), "right"
    ).select("p_partkey", "p_name", "l_orderkey", "l_quantity")


@query(
    "filter_null_safe_eq",
    oracle="""
    WITH flagged AS (
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN NULL ELSE c_mktsegment END AS seg
        FROM customer
    )
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b
    FROM flagged a JOIN flagged b
      ON a.seg IS NOT DISTINCT FROM b.seg AND a.c_custkey < b.c_custkey
    WHERE a.c_custkey <= 30 AND b.c_custkey <= 30
    """,
)
def filter_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (`<=>` ≡ IS NOT DISTINCT FROM): NULL matches NULL
    in the join — unlike `=`, which would drop those rows."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 30)
    flagged = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_mktsegment")).alias("seg"),
    )
    a = flagged.select(F.col("c_custkey").alias("cust_a"), F.col("seg").alias("seg_a"))
    b = flagged.select(F.col("c_custkey").alias("cust_b"), F.col("seg").alias("seg_b"))
    return (
        a.join(b, a.seg_a.eqNullSafe(b.seg_b) & (a.cust_a < b.cust_b))
        .select("cust_a", "cust_b")
    )


_GROUPING_SETS_SQL = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@query("agg_grouping_sets", oracle=_GROUPING_SETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): arbitrary set list via
    the SQL entry — identical text on both engines."""
    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


@query(
    "scalar_map_funcs",
    oracle="""
    SELECT event_id,
           CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
           json_keys(props)[1] AS first_key,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                THEN 1 ELSE 0 END AS has_k
    FROM events
    WHERE event_id <= 500
    """,
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: props parsed once into map<string,bigint>, then
    map_keys / element_at / map_contains_key — the typed-map alternative to
    repeated JSON path extraction (single parse, then O(1) lookups)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") <= 500)
    m = F.from_json("props", "map<string,bigint>")
    return e.select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.element_at(F.map_keys(m), 1).alias("first_key"),
        F.element_at(m, "k").alias("k_value"),
        F.when(F.map_contains_key(m, "k"), 1).otherwise(0).alias("has_k"),
    )


@query(
    "udf_grouped_map_zscore",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round((o_totalprice - avg(o_totalprice) OVER (PARTITION BY o_custkey))
                 / stddev_samp(o_totalprice) OVER (PARTITION BY o_custkey), 4)
               AS price_z
    FROM orders
    QUALIFY count(*) OVER (PARTITION BY o_custkey) >= 3
    """,
)
def udf_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer z-score normalization in pandas, differentially
    checked against the pure-SQL window formulation — the per-group
    escape hatch demonstrated in BOTH boundary shapes side by side
    (VERDICT r17 #9), split by a deterministic customer hash so every
    row flows through exactly one path and the union is value-identical
    to the original single-path op:

      * ``applyInPandas`` (1/50th of customers) — the grouped-map API
        exhibit. Every group ships as its own pandas frame: one Python
        call + one Arrow batch PER GROUP, which for small groups is
        almost pure per-group flush overhead (the measured anti-pattern:
        ~5-6 s at sf0.01 when all rows took this path; the guide-§2.3
        'aggregate before you shuffle' warning in API form). Bounded by
        the largest group; salt a hot key before it lands here.
      * ``mapInArrow`` + in-partition pandas groupby (the other 49/50) —
        the guide-§4 fix: repartition ONCE on the group key (the same
        shuffle the grouped map pays), then ONE Python call per
        PARTITION streams whole Arrow batches and an ordinary pandas
        groupby applies the identical kernel to every group in it.
        Memory bound is the partition, not the group — size the
        repartition accordingly at scale.

    Same kernel function, same arithmetic, same 4dp rounding envelope on
    both paths; the oracle (and the CPUS=7 layout gate) proves the split
    union agrees with the single-window SQL twin."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 3:
            return pd.DataFrame({"o_custkey": [], "o_orderkey": [], "price_z": []})
        m = pdf["o_totalprice"].mean()
        sd = pdf["o_totalprice"].std(ddof=1)
        out = pdf[["o_custkey", "o_orderkey"]].copy()
        out["price_z"] = ((pdf["o_totalprice"] - m) / sd).round(4)
        return out

    schema = "o_custkey long, o_orderkey long, price_z double"
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    is_exhibit = (F.col("o_custkey") % 50) == 0
    exhibit = (
        o.filter(is_exhibit)
        .groupBy("o_custkey")
        .applyInPandas(zscore, schema=schema)
    )

    def zscore_partition(batches):
        # One call per partition: concat the partition's Arrow batches
        # (groups may span batches), groupby in pandas, shared kernel.
        # The batches keep the file's own key widths (int32 or int64).
        import pyarrow as pa

        batches = list(batches)
        if not batches:
            return
        pdf = pa.Table.from_batches(batches).to_pandas()
        if len(pdf):
            parts = [
                zscore(g) for _, g in pdf.groupby("o_custkey", sort=False)
            ]
            out = pd.concat(parts) if parts else zscore(pdf.iloc[:0])
            if len(out):
                yield pa.RecordBatch.from_pandas(
                    out.astype(
                        {"o_custkey": "int64", "o_orderkey": "int64"}
                    ),
                    preserve_index=False,
                )

    bulk = (
        o.filter(~is_exhibit)
        .repartition("o_custkey")
        .mapInArrow(zscore_partition, schema)
    )
    return exhibit.unionByName(bulk)


@query(
    "udf_row_scalar",
    oracle="""
    SELECT p_partkey,
           CAST(length(p_name) * 2 + CASE WHEN p_size % 2 = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS weird_score
    FROM part
    """,
)
def udf_row_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — present for surface completeness, and
    deliberately the ONLY one in the engine: per-row serde makes it
    ~10-100× slower than builtins/pandas UDFs (SURVEY.md §2.2 UDF rule).
    The docstring is the warning label; the oracle shows the same logic is
    expressible in builtins."""

    @F.udf(T.LongType())
    def weird_score(name: str, size: int) -> int:
        return len(name) * 2 + (1 if size % 2 == 0 else 0)

    p = load_table(spark, sf_dir, "part")
    return p.select("p_partkey", weird_score("p_name", "p_size").alias("weird_score"))


_CACHED_SCAN_MEMO: dict[tuple[str, str], DataFrame] = {}


@query(
    "cached_columnar_scan",
    oracle="""
    SELECT l_returnflag, round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def cached_columnar_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's in-memory table (``List<Page>`` built once,
    ``PureJavaTest.java:12``) as Spark's columnar cache: ``df.cache()``
    stores compressed ColumnarBatches in executor memory; repeated queries
    skip the parquet scan entirely. At 100 TB you cache the hot projection,
    not the table. Memoized per (session, sf_dir) with stale-session
    eviction — calling ``.cache()`` per invocation leaked one cached copy
    per call in a long-lived service (r1 verdict hygiene note)."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir)
    if key not in _CACHED_SCAN_MEMO:
        for old_key in [k for k in _CACHED_SCAN_MEMO if k[0] != app_id]:
            try:
                _CACHED_SCAN_MEMO.pop(old_key).unpersist()
            except Exception:
                pass  # old session already stopped
        _CACHED_SCAN_MEMO[key] = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_returnflag", "l_extendedprice")
            .cache()
        )
    li = _CACHED_SCAN_MEMO[key]
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_argminmax_bool",
    oracle="""
    SELECT o_orderstatus,
           max_by(o_orderkey, o_totalprice) AS biggest_order,
           min_by(o_orderkey, o_totalprice) AS smallest_order,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_argminmax_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-min/max (max_by/min_by) + boolean aggregates (every/any). Both
    single-pass mergeable — scale-free. (o_totalprice has no exact ties in
    the fixture, so the arg choice is deterministic.)"""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
    )


@query(
    "window_distribution_funcs",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           nth_value(o_orderkey, 2) OVER
               (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_biggest
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank / cume_dist / nth_value
    (full-partition frame for nth_value so every row sees it)."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_biggest"),
    )


@query(
    "unpivot_stack",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, round(value, 2) AS value
    FROM (
        SELECT l_orderkey, l_linenumber,
               unnest(['price', 'discount', 'tax']) AS metric,
               unnest([l_extendedprice, l_discount, l_tax]) AS value
        FROM lineitem WHERE l_orderkey <= 200)
    """,
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long melt): one row per (row, metric). Row
    amplification = #metrics — a map-side explode, no shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("metric") == "l_extendedprice", "price")
        .when(F.col("metric") == "l_discount", "discount")
        .otherwise("tax")
        .alias("metric"),
        F.round("value", 2).alias("value"),
    )


@query(
    "setop_except_all",
    oracle="""
    SELECT l_returnflag AS flag FROM lineitem WHERE l_quantity < 3
    EXCEPT ALL
    SELECT l_returnflag AS flag FROM lineitem WHERE l_quantity < 2
    """,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics: multiplicities subtract, not collapse)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") < 3).select(F.col("l_returnflag").alias("flag"))
    b = li.filter(F.col("l_quantity") < 2).select(F.col("l_returnflag").alias("flag"))
    return a.exceptAll(b)


@query(
    "setop_intersect_all",
    oracle="""
    SELECT o_orderstatus AS st FROM orders WHERE o_totalprice > 100000
    INTERSECT ALL
    SELECT o_orderstatus AS st FROM orders WHERE o_custkey % 2 = 0
    """,
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics: min of multiplicities survives)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 100000).select(F.col("o_orderstatus").alias("st"))
    b = o.filter(F.col("o_custkey") % 2 == 0).select(F.col("o_orderstatus").alias("st"))
    return a.intersectAll(b)


_PROFILE_COLS = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderpriority", "string"),
)

_PROFILE_ORACLE = "\n    UNION ALL\n".join(
    f"""
    SELECT '{c}' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_str,
           CAST(max({c}) AS VARCHAR) AS max_str
    FROM orders"""
    for c, _t in _PROFILE_COLS
)


@query("profile_table_stats", oracle=_PROFILE_ORACLE)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level table profiling — the first query every data-quality
    / catalog tool runs on an unfamiliar table: per column, row count,
    null count, exact distinct count, and min/max (typed comparison,
    emitted as strings so heterogeneous columns share one schema).

    Plan shape: ONE scan of the table with five per-column aggregate
    sets computed together in a single groupBy-less aggregate pass —
    NOT five scans (the naive per-column UNION ALL, which the oracle
    deliberately spells, proving the single-pass plan equals the
    five-pass semantics). count(DISTINCT) over multiple columns in one
    aggregate expands rows ×5 (Spark's Expand operator) — at 100 TB you
    swap exact distinct for approx_count_distinct per the documented
    `agg_approx_distinct` envelope discipline, keeping the single-scan
    shape. min/max on doubles stringify via the engines' shortest-repr
    float printing, which agrees for these parquet-born values; the
    driver-side float convention (FIXTURES.md) is unchanged because the
    hash sees strings."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c, _t in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).cast("long").alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"{c}__nulls"),
            F.countDistinct(c).cast("long").alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c, _t in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(col_name, n_rows, n_nulls, n_distinct, min_str, max_str)"
    )


_PROFILE_APPROX_ORACLE = "\n    UNION ALL\n".join(
    f"""
    SELECT '{c}' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS exact_distinct,
           true AS within_5pct
    FROM orders"""
    for c, _t in _PROFILE_COLS
)


@query("profile_table_stats_approx", oracle=_PROFILE_APPROX_ORACLE)
def profile_table_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``profile_table_stats``' at-scale distinct path, registered: exact
    multi-column countDistinct expands rows ×columns before the shuffle
    (measured ratio 6.3 at 10× data, SCALING.md r9) while
    approx_count_distinct (HLL++, rsd=0.02) keeps ONE constant-size
    mergeable sketch per column in a single Expand-free aggregate pass —
    the production profiler runs ONLY that half
    (tests/test_plans.py pins its plan has no Expand). This REGISTERED
    query additionally joins the exact profile because the envelope
    oracle needs it: exact distincts hash-checked, plus a boolean
    pinning each sketch within ±5% of exact (±2σ = 4% for rsd=0.02,
    deterministic for a fixed fixture) — so the composite plan does
    carry the exact side's Expand, by design of the CHECK, not of the
    operator."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c, _t in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).cast("long").alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"{c}__nulls"),
            F.approx_count_distinct(c, rsd=0.02).alias(f"{c}__approx"),
        ]
    wide = o.agg(*aggs)
    exact = profile_table_stats(spark, sf_dir).select(
        "col_name", F.col("n_distinct").alias("exact_distinct")
    )
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__approx" for c, _t in _PROFILE_COLS
    )
    long = wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(col_name, n_rows, n_nulls, approx_distinct)"
    )
    return long.join(F.broadcast(exact), "col_name").select(
        "col_name",
        "n_rows",
        "n_nulls",
        "exact_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_5pct"),
    )
