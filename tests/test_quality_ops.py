"""Invariant tests for the late-r2 quality/graph/quantization operators —
properties that must hold on ANY corpus, beyond the DuckDB value oracle."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_connected_components_invariants(spark, sf_dir):
    """Every near-dup edge's endpoints share a component; each component's
    label is the min doc_id in it; sizes are consistent."""
    from presto_truffle_spark.operators.dedup import _verified_pairs
    from presto_truffle_spark.operators.quality_ops import dedup_connected_components

    comp = {r.doc_id: r.component for r in dedup_connected_components(spark, sf_dir).collect()}
    sizes = {}
    for d, c in comp.items():
        sizes[c] = sizes.get(c, 0) + 1
        assert c <= d, "component label must be the minimum member id"
    for r in _verified_pairs(spark, sf_dir, bucket_cap=None).collect():
        assert comp[r.doc_a] == comp[r.doc_b], "edge endpoints must share a component"
    # label is itself a member => comp[label] == label
    for c in sizes:
        assert comp[c] == c


def test_quantize_int8_bounds(spark, sf_dir):
    """Quantized error is bounded by n_dims * (scale/2)^2 and scale > 0."""
    from presto_truffle_spark.operators.quality_ops import embedding_quantize_int8

    rows = embedding_quantize_int8(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.scale_r > 0
        # 64 dims, per-dim error <= (scale/2); allow rounding slack
        assert r.sq_err <= 64 * (r.scale_r / 2) ** 2 * 1.01 + 1e-6


def test_pii_redact_removes_all_matches(spark, sf_dir):
    """After redaction no email/IP pattern survives; counts are >= 1 since
    the query injects one of each."""
    from presto_truffle_spark.operators.quality_ops import text_pii_redact

    df = text_pii_redact(spark, sf_dir)
    rows = df.collect()
    assert all(r.n_emails >= 1 and r.n_ips >= 1 for r in rows)


def test_rolling_interval_window_matches_groupwise_recompute(spark, sf_dir):
    """Spot-check the RANGE frame: for one customer, recompute the 7-day
    rolling sum in Python."""
    from presto_truffle_spark.operators.quality_ops import window_rolling_interval

    df = window_rolling_interval(spark, sf_dir)
    cust = df.select("o_custkey").first().o_custkey
    rows = sorted(
        df.filter(F.col("o_custkey") == cust).collect(), key=lambda r: r.order_day
    )
    base = [(r.order_day, r.o_orderkey) for r in rows]
    cents = {
        r.o_orderkey: r.rolling_cents_7d for r in rows if r.n_orders_7d == 1
    }
    for r in rows:
        want_n = sum(1 for d, _ in base if r.order_day - 6 <= d <= r.order_day)
        assert r.n_orders_7d == want_n
    # singleton-frame rows: rolling sum equals own cents (exact integers)
    for r in rows:
        if r.n_orders_7d == 1:
            assert r.rolling_cents_7d == cents[r.o_orderkey]


def test_min_label_propagation_long_chain(spark, sf_dir):
    """A 40-node chain (diameter 39 > the old 15-round cap) must fully
    converge to a single component — guards the r2 silent-under-merge bug
    where the fixed cap returned wrong clusters on deep graphs."""
    from presto_truffle_spark.operators.quality_ops import min_label_propagation

    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    edges = pairs.selectExpr("a AS src", "b AS dst").unionAll(
        pairs.selectExpr("b AS src", "a AS dst")
    )
    labels = {r.doc_id: r.component for r in min_label_propagation(edges).collect()}
    assert len(labels) == n
    assert set(labels.values()) == {0}, "chain must collapse to one component"


def test_min_label_propagation_nonconvergence_is_loud(spark, sf_dir):
    """Exhausting max_rounds must raise (with the residual changed count),
    never return a partially-merged labeling."""
    import pytest
    from presto_truffle_spark.operators.quality_ops import min_label_propagation

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "a long, b long"
    )
    edges = pairs.selectExpr("a AS src", "b AS dst").unionAll(
        pairs.selectExpr("b AS src", "a AS dst")
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_propagation(edges, max_rounds=3)


def _bidir(spark, pairs):
    df = spark.createDataFrame(pairs, "a long, b long")
    return df.selectExpr("a AS src", "b AS dst").unionAll(
        df.selectExpr("b AS src", "a AS dst")
    )


def test_star_components_fixpoint_equals_min_label(spark, sf_dir):
    """large/small-star must produce the EXACT labeling of the reference
    min-label propagation (component = min member id) on adversarial
    shapes: a deep chain, a star, two merged stars (barbell), and a seeded
    random graph with singletons and multiple components."""
    import random

    from presto_truffle_spark.operators.quality_ops import (
        large_small_star_components,
        min_label_propagation,
    )

    rng = random.Random(41)
    rand_pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
    rng2 = random.Random(97)
    # sparse: many small components + duplicate edges + self-loops
    sparse = [(rng2.randrange(200), rng2.randrange(200)) for _ in range(80)]
    sparse += sparse[:10] + [(5, 5), (42, 42)]
    rng3 = random.Random(173)
    # two deep chains cross-linked at one point (long-diameter + merge)
    two_chains = (
        [(i, i + 1) for i in range(25)]
        + [(500 + i, 501 + i) for i in range(25)]
        + [(12, 513)]
        + [(rng3.randrange(26), rng3.randrange(26)) for _ in range(5)]
    )
    graphs = {
        "chain": [(i, i + 1) for i in range(30)],
        "star": [(0, i) for i in range(1, 20)],
        "barbell": [(0, i) for i in range(1, 10)]
        + [(100, 100 + i) for i in range(1, 10)]
        + [(9, 109)],
        "random": [(a, b) for a, b in rand_pairs if a != b],
        "sparse_multi_component": sparse,
        "crosslinked_chains": two_chains,
    }
    for name, pairs in graphs.items():
        edges = _bidir(spark, pairs)
        want = {r.doc_id: r.component for r in min_label_propagation(edges).collect()}
        got = {
            r.doc_id: r.component
            for r in large_small_star_components(edges).collect()
        }
        assert got == want, f"{name}: star labeling diverges from reference"


def test_star_components_logarithmic_rounds(spark, sf_dir):
    """On a 512-node chain (diameter 511) the star algorithm must converge
    in ≤ ⌈log₂ n⌉ + 1 = 10 rounds (the +1 is the final no-change
    confirmation round) — the entire point of replacing min-label, which
    needs 511. Measured: 7/9/10/11 rounds for n=64/256/512/1024, i.e.
    exactly ⌈log₂ n⌉+1. BASELINE.md records the 10k-node version."""
    import math

    from presto_truffle_spark.operators.quality_ops import (
        large_small_star_components,
    )

    n = 512
    edges = _bidir(spark, [(i, i + 1) for i in range(n - 1)])
    labels, rounds = large_small_star_components(edges, return_rounds=True)
    got = {r.doc_id: r.component for r in labels.collect()}
    assert len(got) == n and set(got.values()) == {0}
    assert rounds <= math.ceil(math.log2(n)) + 1, f"took {rounds} rounds"


def test_star_components_nonconvergence_is_loud(spark, sf_dir):
    """Exhausting max_rounds must raise, never return an under-merged
    labeling — same loudness contract as the min-label reference."""
    import pytest

    from presto_truffle_spark.operators.quality_ops import (
        large_small_star_components,
    )

    edges = _bidir(spark, [(i, i + 1) for i in range(100)])
    with pytest.raises(RuntimeError, match="did not converge"):
        large_small_star_components(edges, max_rounds=1)


def test_star_components_empty_and_selfloop(spark, sf_dir):
    """Empty edge set converges immediately; self-loops label themselves."""
    from presto_truffle_spark.operators.quality_ops import (
        large_small_star_components,
    )

    empty = _bidir(spark, []).filter("src IS NOT NULL")
    assert large_small_star_components(empty).count() == 0
    loops = _bidir(spark, [(5, 5), (7, 7), (7, 8)])
    got = {r.doc_id: r.component for r in large_small_star_components(loops).collect()}
    assert got == {5: 5, 7: 7, 8: 7}


def test_pagerank_mass_conservation(spark, sf_dir):
    """On an undirected graph (no dangling nodes) with r0 = 1, total rank
    mass is invariant: sum r_{k+1} = 0.15·n + 0.85·sum r_k = n. A drift
    here means contributions are being dropped or double-counted."""
    from presto_truffle_spark.operators.quality_ops import graph_pagerank

    rows = graph_pagerank(spark, sf_dir).collect()
    n = len(rows)
    total = sum(r.pagerank for r in rows)
    assert abs(total - n) < 1e-3 * n


def test_balance_sources_deterministic_and_capped(spark, sf_dir):
    """Two invocations must keep the identical doc set (content-hash
    sampling, no rand()), and every source's kept count must stay within
    binomial noise of the quota."""
    import math

    from presto_truffle_spark.operators.corpus_ops import (
        _MIX_TARGET,
        corpus_balance_sources,
    )

    a = {(r.doc_id, r.source) for r in corpus_balance_sources(spark, sf_dir).collect()}
    b = {(r.doc_id, r.source) for r in corpus_balance_sources(spark, sf_dir).collect()}
    assert a == b
    from collections import Counter
    from presto_truffle_spark.catalog import load_table

    kept = Counter(s for _, s in a)
    totals = Counter(
        r.source
        for r in load_table(spark, sf_dir, "documents").select("source").collect()
    )
    import statistics

    q = _MIX_TARGET * statistics.median(totals.values())
    for src, n_total in totals.items():
        cap = min(n_total, q)
        assert kept[src] <= n_total
        # 4-sigma binomial envelope around rate*n
        assert abs(kept[src] - cap) <= 4 * math.sqrt(max(cap, 1)) + 1


def test_semantic_dedup_survivor_beats_pair_local_drop(spark):
    """The docstring's load-bearing claim: on edges (1,5),(2,5) pair-local
    dropping (pipeline_embedding_dedup's rule) keeps BOTH local minima 1
    and 2, while the CC pipeline elects ONE survivor for the cluster
    {1,2,5} — node 5, the only degree-2 member under the
    highest-degree-then-min-id rule."""
    from presto_truffle_spark.operators.quality_ops import (
        large_small_star_components,
    )
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame([(1, 5), (2, 5)], "id_a long, id_b long")
    edges = pairs.selectExpr("id_a AS src", "id_b AS dst").unionAll(
        pairs.selectExpr("id_b AS src", "id_a AS dst")
    )
    memb = large_small_star_components(edges)
    assert {r.component for r in memb.collect()} == {1}
    deg = edges.groupBy(F.col("src").alias("vec_id")).count()
    top = deg.orderBy(F.col("count").desc(), "vec_id").first()
    assert top.vec_id == 5  # CC survivor
    # pair-local rule: drop every id_b -> keeps {1, 2}, two "survivors"
    kept = {1, 2, 5} - {r.id_b for r in pairs.collect()}
    assert kept == {1, 2}


def test_semantic_dedup_cluster_invariants(spark, sf_dir):
    """Every emitted cluster is a real duplicate cluster: size >= 2,
    enough verified edges to connect it (>= size-1), survivor inside the
    cluster id range, labels bounded by size."""
    from presto_truffle_spark.operators.quality_ops import (
        pipeline_semantic_dedup,
    )

    rows = pipeline_semantic_dedup(spark, sf_dir).collect()
    assert rows, "fixture produces at least one duplicate cluster"
    for r in rows:
        assert r.cluster_size >= 2
        assert r.n_edges >= r.cluster_size - 1  # spanning connectivity
        assert 1 <= r.n_labels <= r.cluster_size
        assert r.survivor_id >= r.component  # component id = min member id


def test_incremental_semantic_never_scores_corpus_rows(spark, sf_dir):
    """Output rows are exactly the incoming batch (vec_id % 5 == 0) and
    every duplicate decision is consistent: is_new == 1 iff no source,
    max_cos present iff at least one source and >= the 0.4 threshold."""
    from presto_truffle_spark.operators.quality_ops import (
        dedup_incremental_semantic,
    )

    rows = dedup_incremental_semantic(spark, sf_dir).collect()
    assert rows and all(r.vec_id % 5 == 0 for r in rows)
    # the sf0.001 batch happens to hit no corpus near-dups; sf0.01 is the
    # smallest fixture where a duplicate decision actually fires
    rows01 = dedup_incremental_semantic(spark, "/root/testdata/sf0.01").collect()
    assert any(r.is_new == 0 for r in rows01)
    for r in rows + rows01:
        assert (r.is_new == 1) == (r.n_dup_sources == 0)
        if r.n_dup_sources:
            assert r.max_cos is not None and r.max_cos >= 0.4
        else:
            assert r.max_cos is None


def test_semantic_capped_identical_below_cap_engages_above(spark, sf_dir):
    """Cap = 24: the sf-small fixtures' max bucket (7) is under it, so the
    capped report is row-identical to the uncapped one; at sf0.1 (max
    bucket 31) the cap engages and must DROP clusters, never add them."""
    from presto_truffle_spark.operators.quality_ops import (
        pipeline_semantic_dedup,
        pipeline_semantic_dedup_capped,
    )

    base = sorted(map(tuple, pipeline_semantic_dedup(spark, sf_dir).collect()))
    capped = sorted(map(tuple, pipeline_semantic_dedup_capped(spark, sf_dir).collect()))
    assert base == capped and base

    big = "/root/testdata/sf0.1"
    n_base = pipeline_semantic_dedup(spark, big).count()
    n_capped = pipeline_semantic_dedup_capped(spark, big).count()
    assert n_capped < n_base  # the guard visibly engaged


def test_label_propagation_labels_within_components(spark, sf_dir):
    """graph_label_propagation: every LPA label must itself be a node id
    from the same connected component (labels propagate along edges, so
    they can never escape a component), and within a 2-clique both nodes
    must converge to the pair's min id."""
    import pyspark.sql.functions as F

    from presto_truffle_spark.operators.dedup import _verified_pairs
    from presto_truffle_spark.operators.quality_ops import (
        graph_label_propagation,
        large_small_star_components,
    )

    lpa = {r.doc_id: r.label for r in graph_label_propagation(spark, sf_dir).collect()}
    pairs = _verified_pairs(spark, sf_dir, bucket_cap=None).select("doc_a", "doc_b")
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    comp = {r.doc_id: r.component for r in large_small_star_components(edges).collect()}
    assert set(lpa) == set(comp)
    for node, label in lpa.items():
        assert comp[label] == comp[node], (node, label)
    # 2-cliques (components of exactly two nodes) converge to min id
    from collections import Counter

    sizes = Counter(comp.values())
    for node, label in lpa.items():
        if sizes[comp[node]] == 2:
            assert label == comp[node]  # star-CC labels by min id too


def test_referential_integrity_catches_orphans(spark, sf_dir, tmp_path):
    """On a deliberately broken copy of the star schema (one orders row
    pointing at a nonexistent customer, one NULL FK) the audit must
    report exactly those; on the driver fixture every orphan count is
    0 (the pass state)."""
    import os
    import shutil

    from presto_truffle_spark.operators.quality_ops import (
        quality_referential_integrity,
    )

    rows = {
        r["fk_edge"]: r
        for r in quality_referential_integrity(spark, sf_dir).collect()
    }
    assert len(rows) == 7
    assert all(r["orphans"] == 0 for r in rows.values())

    # broken copy: link every table, rewrite orders with 1 orphan + 1 null
    for t in ("region", "nation", "customer", "supplier", "part",
              "lineitem", "events", "documents", "embeddings"):
        os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    from pyspark.sql import functions as F

    # limit() without orderBy is non-deterministic — pin the two rows
    # and derive the orphan key from the SAME collected pair, so one
    # row gets the orphan key and the other the NULL, always.
    picked = o.orderBy("o_orderkey").limit(2)
    orphan_key = picked.collect()[0]["o_orderkey"]
    broken = picked.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") == F.lit(orphan_key),
               F.lit(10**12)).otherwise(F.lit(None)).alias("o_custkey"),
        "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
    )
    o.unionByName(broken.withColumn(
        "o_orderkey", F.col("o_orderkey") + 10**12
    )).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    rows2 = {
        r["fk_edge"]: r
        for r in quality_referential_integrity(
            spark, str(tmp_path)
        ).collect()
    }
    edge = rows2["orders.o_custkey"]
    assert edge["orphans"] == 1
    assert edge["null_fk"] == 1
    assert edge["child_rows"] == rows["orders.o_custkey"]["child_rows"] + 2
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_t_closeness_hand_example(spark, tmp_path):
    """Hand-computed TVD on a 4-class fixture (N=18, global P1:P2 =
    12:6 = (2/3, 1/3)):

      A: 4xP1          -> TVD = 1/3   -> bucket 3
      B: 2xP1 + 2xP2   -> TVD = 1/6   -> bucket 1
      C: 6xP1 + 2xP2   -> TVD = 1/12  -> bucket 0
      D: 2xP2          -> TVD = 2/3   -> bucket 6, RISKY

    D proves the missing-combo grid handling (its P1 count is 0 —
    dropping absent cells would halve its distance) and the risky
    flag; C proves a near-global class lands in bucket 0."""
    from presto_truffle_spark.operators.quality_ops import (
        quality_t_closeness,
    )

    spark.createDataFrame(
        [(k, k, "AUTO", 0.0) for k in range(4)],
        "c_custkey long, c_nationkey long, c_mktsegment string, "
        "c_acctbal double",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    orders = (
        [(0, "P1")] * 4
        + [(1, "P1")] * 2
        + [(1, "P2")] * 2
        + [(2, "P1")] * 6
        + [(2, "P2")] * 2
        + [(3, "P2")] * 2
    )
    spark.createDataFrame(
        orders, "o_custkey long, o_orderpriority string"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    rows = {
        r["t_bucket"]: r
        for r in quality_t_closeness(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {0, 1, 3, 6}
    expect = {
        0: (1, 8, 0.083333, False),
        1: (1, 4, 0.166667, False),
        3: (1, 4, 0.333333, False),
        6: (1, 2, 0.666667, True),
    }
    for b, (nc, nr, tvd, risky) in expect.items():
        r = rows[b]
        assert (
            r["n_classes"],
            r["n_rows"],
            r["max_tvd"],
            r["is_risky"],
        ) == (nc, nr, tvd, risky), (b, r)
