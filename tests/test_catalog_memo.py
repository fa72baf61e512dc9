"""The catalog's parquet-schema memo: a warm load starts no Spark job, and
the memo never serves a schema that a rewritten file or a flipped schema
conf has made stale."""

from __future__ import annotations

import datetime
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from presto_truffle_spark import catalog


def _job_ids(spark, fn) -> list[int]:
    """Ids of the Spark jobs started while ``fn`` runs."""
    sc = spark.sparkContext
    group = f"memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_table_starts_no_job(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    assert _job_ids(spark, lambda: catalog.load_table(spark, sf_dir, "orders"))
    assert _job_ids(spark, lambda: catalog.load_table(spark, sf_dir, "orders")) == []
    assert _job_ids(spark, lambda: catalog.load_table(spark, sf_dir, "events")) != []
    assert _job_ids(spark, lambda: catalog.load_table(spark, sf_dir, "events")) == []


def test_rewritten_file_is_read_afresh(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert catalog.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [3.5]}), path)
    df = catalog.read_parquet(spark, path)
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 3.5)]


def test_ntz_inference_conf_is_read_per_call(spark, tmp_path):
    path = str(tmp_path / "ts.parquet")
    ts = pa.array([datetime.datetime(2024, 1, 2, 3, 4, 5)], pa.timestamp("us"))
    pq.write_table(pa.table({"ts": ts}), path)
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        assert catalog.read_parquet(spark, path).dtypes == [("ts", "timestamp_ntz")]
        spark.conf.set(conf, "false")
        assert catalog.read_parquet(spark, path).dtypes == [("ts", "timestamp")]
        spark.conf.set(conf, "true")
        assert catalog.read_parquet(spark, path).dtypes == [("ts", "timestamp_ntz")]
    finally:
        spark.conf.set(conf, prev)


def test_self_join_of_two_loads_resolves(spark, sf_dir):
    from pyspark.sql import functions as F

    a = catalog.load_table(spark, sf_dir, "nation")
    b = catalog.load_table(spark, sf_dir, "nation")  # a memo hit
    pairs = a.join(
        b,
        (a["n_regionkey"] == b["n_regionkey"]) & (a["n_nationkey"] < b["n_nationkey"]),
    ).select(a["n_nationkey"].alias("x"), b["n_nationkey"].alias("y"))
    nation = pq.read_table(f"{sf_dir}/nation.parquet").to_pylist()
    want = sorted(
        (p["n_nationkey"], q["n_nationkey"])
        for p in nation
        for q in nation
        if p["n_regionkey"] == q["n_regionkey"] and p["n_nationkey"] < q["n_nationkey"]
    )
    assert want
    assert sorted(map(tuple, pairs.orderBy(F.col("x"), F.col("y")).collect())) == want
