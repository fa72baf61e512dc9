"""The bucketed-rank grid: one builder for the histogram scale twins of
the exact-rank statistics.

An exact rank statistic (Gini, Mann-Whitney U, Kolmogorov-Smirnov,
Spearman, ROC-AUC, Lorenz deciles, CCNet tertiles) needs one global sort
of its input. Its scale twin folds the input to a histogram of at most
~1e4 buckets instead and reads ranks off cumulative bucket counts, so
every window runs on the grid-bounded histogram, never on the corpus:

* ``with_width`` — the bucket width ``max(x) DIV 10000 + 1``
  (``max(abs(x))`` for signed values), so a column has at most 1e4
  buckets (2e4 signed) whatever the input size;
* ``floor`` — a value's bucket floor ``x − x % bw``: pure integer ops
  that truncate toward zero identically in Spark and DuckDB, so the
  quantization is monotone (quantized ranks are valid ranks) on
  negative values too;
* ``histogram`` — the input folded to one row per populated bucket;
* ``through`` — a running sum over the buckets up to and including
  each one (ECDFs, cumulative shares);
* ``ranked`` — every bucket is one tie group, so its items share the
  tie-averaged rank C + (n_b + 1)/2 (C = items in the buckets below),
  carried doubled as the exact integer 2·C + n_b + 1. Callers multiply
  it into DECIMAL(38,0) sums, which cannot overflow at real
  cardinalities (DuckDB widens the same sums to HUGEINT).

The input frames the rank keys share (``customer_cents``,
``segment_cents``) live here too. Each key keeps its own
``scoped_persist`` sites. This module registers no query, so importing
it leaves the registration order alone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from presto_truffle_spark.catalog import load_table


def customer_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_custkey, cents): each customer's order total in exact cents."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )


def segment_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(grp, cents): the order totals in exact cents of AUTOMOBILE
    (grp 1) and BUILDING (grp 0) customers."""
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")
    )
    return od.join(cu, od.o_custkey == cu.c_custkey).select(
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1)
        .otherwise(0)
        .alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )


def split_count(flag: str, n1: str, n0: str) -> tuple[Column, Column]:
    """The rows whose ``flag`` is 1 and 0, counted as ``n1`` and ``n0``."""
    return (
        F.count(F.when(F.col(flag) == 1, 1)).cast("long").alias(n1),
        F.count(F.when(F.col(flag) == 0, 1)).cast("long").alias(n0),
    )


def with_width(t: DataFrame, *xs: str, absolute: bool = False) -> DataFrame:
    """``t`` with the bucket width of each column of ``xs`` broadcast
    onto every row: ``bw`` for one column, ``bw<x>`` for each of
    several."""
    spec = "max(abs({})) DIV 10000 + 1" if absolute else "max({}) DIV 10000 + 1"
    names = ["bw"] if len(xs) == 1 else [f"bw{x}" for x in xs]
    widths = t.agg(
        *(F.expr(spec.format(x)).cast("long").alias(n) for x, n in zip(xs, names))
    )
    return t.crossJoin(F.broadcast(widths))


def floor(x: str, bw: str = "bw") -> Column:
    """The floor of ``x``'s bucket."""
    return F.col(x) - F.col(x) % F.col(bw)


def histogram(t: DataFrame, x: str, *counts: Column) -> DataFrame:
    """(bw, v, nb, *counts): one row per populated bucket of ``x``, with
    its width, floor and item count."""
    return (
        with_width(t, x)
        .groupBy("bw", floor(x).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("nb"), *counts)
    )


def through(col: str, order: str = "v") -> Column:
    """Σ ``col`` over the buckets up to and including this one."""
    return (
        F.sum(col)
        .over(W.orderBy(order).rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
    )


def ranked(hist: DataFrame, order: str = "v") -> DataFrame:
    """``hist`` plus ``r2``: twice the tie-averaged rank its ``nb`` items
    share, 2·C + nb + 1."""
    below = F.coalesce(
        F.sum("nb").over(W.orderBy(order).rowsBetween(W.unboundedPreceding, -1)),
        F.lit(0),
    )
    return hist.select("*", (2 * below + F.col("nb") + 1).alias("r2"))
