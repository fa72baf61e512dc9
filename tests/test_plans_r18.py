"""Plan-shape pins for the round-18 optimizations (same contract as
test_plans_r17: lock the structural property each rewrite bought; value
equality is the oracle selfcheck's job)."""

from __future__ import annotations

import inspect as pyinspect
import re

from presto_truffle_spark.plans import inspect


def test_funnel_conversion_single_scan_single_user_exchange(spark, sf_dir):
    """events_funnel_conversion is one IN-filtered scan + one user_id
    Exchange + three chained whole-partition windows (before r18: three
    filtered scans chained by join+groupBy ladders and two crossJoins)."""
    from presto_truffle_spark.operators.timeseries import (
        events_funnel_conversion,
    )

    df = events_funnel_conversion(spark, sf_dir)
    scans = inspect.parquet_scans(df)
    assert len(scans) == 1, scans
    assert "event_type" in scans[0].pushed_filters
    plan = inspect.physical_plan(df)
    assert "Join" not in plan
    assert plan.count("Window") == 3, plan


def test_asof_nearest_single_scan_no_join(spark, sf_dir):
    """events_asof_nearest is one IN-filtered scan + one user_id Exchange
    + two LOCF windows and a row-local pick (before r18: two union-LOCF
    passes over four scans glued by a join)."""
    from presto_truffle_spark.operators.timeseries import events_asof_nearest

    df = events_asof_nearest(spark, sf_dir)
    scans = inspect.parquet_scans(df)
    assert len(scans) == 1, scans
    assert "event_type" in scans[0].pushed_filters
    plan = inspect.physical_plan(df)
    assert "Join" not in plan
    assert plan.count("Window") == 2, plan
    # One data shuffle only: every Exchange key is the user_id hash.
    keys = re.findall(r"Exchange hashpartitioning\(([a-z_]+)", plan)
    assert set(keys) == {"user_id"}, keys


def test_python_datasource_yields_arrow_batches():
    """The Python DataSource reader's canonical form is the Arrow
    RecordBatch yield (r17 optimization, guide §4.1) — one columnar batch
    per partition, not row tuples. Source-level pin: a revert to the
    tuple yield loses the ~10× boundary win silently."""
    from presto_truffle_spark.sources import io

    src = pyinspect.getsource(io.source_python_datasource)
    assert "pa.record_batch" in src, "reader no longer yields RecordBatch"


def test_grouped_map_split_paths(spark, sf_dir):
    """udf_grouped_map_zscore routes the bulk through mapInArrow (one
    Python call per partition) and keeps the applyInPandas exhibit on the
    1/50 customer slice: the plan must show BOTH boundary operators."""
    from presto_truffle_spark.operators.coverage_extras import (
        udf_grouped_map_zscore,
    )

    plan = inspect.physical_plan(udf_grouped_map_zscore(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan


def test_rescan_audit_r18_single_scan_rewrites(spark, sf_dir, monkeypatch):
    """The five r18 rescan-audit rewrites each read events exactly once
    (changepoint/cohort/rank/gap-sweep: windows replaced the self-join /
    separate-aggregate second scan; autocorrelation: past its size gate
    the day fold is persisted so the lag self-join probes the cache)."""
    from presto_truffle_spark.operators import timeseries
    from presto_truffle_spark.operators.timeseries import (
        events_autocorrelation,
        events_cohort_ltv_curve,
        events_rank_migration,
    )
    from presto_truffle_spark.operators.timeseries_advanced import (
        events_changepoint_cusum,
        events_session_gap_sweep,
    )

    monkeypatch.setattr(timeseries, "_AUTOCORR_PERSIST_MIN_BYTES", 0)
    for fn, max_joins in (
        (events_changepoint_cusum, 0),
        (events_cohort_ltv_curve, 0),
        (events_rank_migration, 0),
        (events_session_gap_sweep, 1),  # the 3-row broadcast threshold list
        (events_autocorrelation, 2),  # lag list + persisted day-table join
    ):
        df = fn(spark, sf_dir)
        scans = inspect.parquet_scans(df)
        assert len(scans) == 1, (fn.__name__, scans)
        plan = inspect.physical_plan(df)
        assert plan.count("Join") <= max_joins, (fn.__name__, plan)
    spark.catalog.clearCache()


def test_autocorrelation_persist_gate(spark, sf_dir, monkeypatch):
    """Below _AUTOCORR_PERSIST_MIN_BYTES (every fixture) the day fold is
    NOT persisted: no InMemoryTableScan, and each side of the lag
    self-join folds its own events scan. Past the gate the fold is
    cached (the pin above). Both shapes return the same rows."""
    from presto_truffle_spark.operators import timeseries

    spark.catalog.clearCache()
    df = timeseries.events_autocorrelation(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "InMemoryTableScan" not in plan, plan
    assert len(inspect.parquet_scans(df)) == 2
    gated = sorted(map(tuple, df.collect()))
    monkeypatch.setattr(timeseries, "_AUTOCORR_PERSIST_MIN_BYTES", 0)
    df = timeseries.events_autocorrelation(spark, sf_dir)
    assert "InMemoryTableScan" in inspect.physical_plan(df)
    assert sorted(map(tuple, df.collect())) == gated
    spark.catalog.clearCache()
