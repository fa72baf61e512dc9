"""Similarity search over the `embeddings` table (64-dim float vectors).

[EXT] surface (BASELINE.json north_star). Three layers:

  * exact brute-force cosine top-k — the correctness baseline. O(Q×N) pairs:
    fine when Q is small or N fits a broadcast; the verify kernel otherwise.
  * pandas-UDF cosine — the same semantics on the vectorized Arrow/numpy
    path; at 100 TB this is how the pair scoring actually runs (a JVM
    higher-order fold over 64 floats per row is ~10× slower than a numpy
    batch matmul).
  * LSH bucketing — sign-of-dot-product against pinned "hyperplane" vectors
    (data-derived: the first 8 embeddings, so the whole pipeline stays
    deterministic and oracle-checkable). Buckets turn the O(N²) pair space
    into per-bucket pair spaces — the scale path for all-pairs similarity.

All cosines are computed in float64 (explicit cast from the stored float32)
and rounded before ranking so Spark's sequential fold and DuckDB's
list_dot_product agree bit-for-bit after rounding.

Deployments loading the repo's Catalyst extension
(native/presto-truffle-ext.jar) can swap the ``_dot`` fold for the
native ``vec_dot(a, b)`` SQL function — one fused codegen loop, measured
3.2× over the lambda spelling (BASELINE.md r6) with bit-identical
sequential-double accumulation. The registered queries keep the pure
spelling so driver sessions stay vanilla.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from presto_truffle_spark.catalog import load_table
from presto_truffle_spark.registry import query

_N_QUERIES = 5  # vec_id < 5 are the query vectors in the fixtures
_TOP_K = 10
_N_PLANES = 8  # LSH hyperplanes = embeddings with vec_id 1..8


def _dot(a, b):
    """float64 dot product as a sequential fold (matches DuckDB's
    list_dot_product evaluation order, so rounding is stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _emb(df: DataFrame, id_alias: str, emb_alias: str) -> DataFrame:
    return df.select(
        F.col("vec_id").alias(id_alias),
        F.col("embedding").cast("array<double>").alias(emb_alias),
        "label",
    )


# The IVF/PQ retrieval family (ann_ivf_topk*, ann_kmeans_iteration,
# ann_pq_codes, ann_ivfpq_*, eval_cluster_ari) is built from the steps
# below; each key keeps only its scoring, its residual or index twist and
# its output columns. Every model-side table (centroids, codebook, query
# probes, lookup table, shortlist) is broadcast.
_N_CENTROIDS = 8  # IVF "centroids" = embeddings with vec_id 10..17 (pinned)

# Product quantization: _PQ_M subspaces of _PQ_SUBDIM dims each; per
# subspace the codebook is the corresponding SLICE of _PQ_K pinned seed
# vectors (vec_id 20..23 — disjoint from the IVF seeds so the two
# models stay independently replayable).
_PQ_M = 4
_PQ_SUBDIM = 16  # 64-dim fixture embeddings / _PQ_M
_PQ_K = 4
_PQ_SEED_LO = 20

# End-to-end IVF-PQ retrieval: coarse-probe nprobe cells, rank in-cell
# candidates by the PQ ADC (asymmetric distance computation) lookup-table
# sum, exact re-rank only the shortlist. k' below is the shortlist width.
_IVFPQ_NPROBE = 3
_IVFPQ_SHORTLIST = 30


def _vectors(spark: SparkSession, sf_dir: str, *keep: str) -> DataFrame:
    """(vec_id, *keep, ev): every embedding, cast to array<double>."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", *keep, F.col("embedding").cast("array<double>").alias("ev")
    )


def _centroids(ev: DataFrame) -> DataFrame:
    """(c_id, ce, cc, cnorm): the pinned IVF centroids, with cc = ce·ce
    and cnorm = √cc."""
    return (
        ev.filter(F.col("vec_id").between(10, 10 + _N_CENTROIDS - 1))
        .select(F.col("vec_id").alias("c_id"), F.col("ev").alias("ce"))
        .withColumn("cc", _dot(F.col("ce"), F.col("ce")))
        .withColumn("cnorm", F.sqrt("cc"))
    )


def _cell_rank(ev: DataFrame, cent: DataFrame, *keep: str) -> DataFrame:
    """(vec_id, *keep, c_id, rn): every vector against every centroid,
    ``rn`` ranking the cells by cosine rounded to 6 dp, descending, ties
    on c_id. ``keep`` may name ``evnorm``, the vector's norm."""
    ev = ev.withColumn("evnorm", F.sqrt(_dot(F.col("ev"), F.col("ev"))))
    cos = _dot(F.col("ev"), F.col("ce")) / (F.col("evnorm") * F.col("cnorm"))
    w = W.partitionBy("vec_id").orderBy(F.round(cos, 6).desc(), "c_id")
    return ev.join(F.broadcast(cent)).select(
        "vec_id", *keep, "c_id", F.row_number().over(w).alias("rn")
    )


def _probes(ranked: DataFrame, nprobe: int) -> tuple[DataFrame, DataFrame]:
    """The query rows of ``ranked`` in their ``nprobe`` nearest cells, and
    the corpus rows in their one nearest cell."""
    return (
        ranked.filter((F.col("vec_id") < _N_QUERIES) & (F.col("rn") <= nprobe)),
        ranked.filter((F.col("vec_id") >= _N_QUERIES) & (F.col("rn") == 1)),
    )


def _slices(df: DataFrame, vec: str, out: str, *keep: str | Column) -> DataFrame:
    """(*keep, sub_id, out): each row of ``df`` once per PQ sub-space,
    ``out`` holding that sub-space's _PQ_SUBDIM-dim slice of ``vec``."""
    subs = df.sparkSession.range(_PQ_M).select(F.col("id").cast("int").alias("sub_id"))
    part = F.slice(F.col(vec), F.col("sub_id") * _PQ_SUBDIM + 1, _PQ_SUBDIM)
    return df.crossJoin(subs).select(*keep, "sub_id", part.alias(out))


def _codebook(ev: DataFrame) -> DataFrame:
    """(sub_id, code, cs): the slices of the _PQ_K pinned seed vectors."""
    seeds = ev.filter(F.col("vec_id").between(_PQ_SEED_LO, _PQ_SEED_LO + _PQ_K - 1))
    code = (F.col("vec_id") - _PQ_SEED_LO).alias("code")
    return _slices(seeds, "ev", "cs", code).select("sub_id", "code", "cs")


def _sq_l2(a: str, b: str, aa: Column | None = None, bb: Column | None = None) -> Column:
    """Squared L2 as a·a − 2·a·b + b·b from sequential-fold dot products
    (DuckDB's list_dot_product order), rounded to 6 dp BEFORE any argmin
    or rank so ULP noise cannot flip one between engines. ``aa`` and
    ``bb`` stand in for precomputed a·a and b·b."""
    x, y = F.col(a), F.col(b)
    aa = _dot(x, x) if aa is None else aa
    bb = _dot(y, y) if bb is None else bb
    return F.round(aa - 2 * _dot(x, y) + bb, 6)


def _pq_encode(pt: DataFrame, cb: DataFrame, *keys: str) -> DataFrame:
    """(*keys, sub_id, code, sub_err): each slice ``vs`` of ``pt`` coded
    to its nearest codebook entry, argmin on (sub_err, code) per
    (keys[0], sub_id) — the one exchange of an encode."""
    w = W.partitionBy(keys[0], "sub_id").orderBy("sub_err", "code")
    return (
        pt.join(F.broadcast(cb), "sub_id")
        .select(*keys, "sub_id", "code", _sq_l2("vs", "cs").alias("sub_err"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _lut(qs: DataFrame, cb: DataFrame, *keys: str | Column) -> DataFrame:
    """(*keys, sub_id, code, lut_micro): the ADC lookup table, each query
    slice ``qsv`` against each codebook entry, fixed-pointed to integer
    micros (floor(x·1e6 + 0.5)) so the ADC sum is exact."""
    micro = F.floor(_sq_l2("qsv", "cs") * 1_000_000 + F.lit(0.5)).cast("long")
    return qs.join(F.broadcast(cb), "sub_id").select(
        *keys, "sub_id", "code", micro.alias("lut_micro")
    )


def _adc_rerank(ev: DataFrame, hits: DataFrame) -> DataFrame:
    """(qid, cid, l2_exact, adc_micro, rnk): the looked-up ``lut_micro``
    of ``hits`` summed per (qid, cid), the _IVFPQ_SHORTLIST best on
    (adc_micro, cid) kept, and that shortlist re-ranked by exact squared
    L2 to the _TOP_K best on (l2_exact, cid)."""
    adc = hits.groupBy("qid", "cid").agg(F.sum("lut_micro").alias("adc_micro"))
    w_adc = W.partitionBy("qid").orderBy("adc_micro", "cid")
    short = (
        adc.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= _IVFPQ_SHORTLIST)
        .select("qid", "cid", "adc_micro")
    )
    qv = ev.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("ev").alias("qe")
    )
    cv = ev.select(F.col("vec_id").alias("cid"), F.col("ev").alias("cvv"))
    rer = (
        cv.join(F.broadcast(short), "cid")
        .join(F.broadcast(qv), "qid")
        .select("qid", "cid", "adc_micro", _sq_l2("qe", "cvv").alias("l2_exact"))
    )
    w_f = W.partitionBy("qid").orderBy("l2_exact", "cid")
    return (
        rer.withColumn("rnk", F.row_number().over(w_f))
        .filter(F.col("rnk") <= _TOP_K)
        .select("qid", "cid", "l2_exact", "adc_micro", F.col("rnk").cast("long").alias("rnk"))
    )


def _ivfpq_raw(ev: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The raw-vector IVF-PQ model: query probes (qid, qc), corpus cells
    (cid, cc), corpus codes (cid, sub_id, code) and the query lookup
    table (qid, sub_id, code, lut_micro)."""
    q_probe, cells = _probes(_cell_rank(ev, _centroids(ev)), _IVFPQ_NPROBE)
    cb = _codebook(ev)
    corpus = ev.filter(F.col("vec_id") >= _N_QUERIES)
    queries = ev.filter(F.col("vec_id") < _N_QUERIES)
    return (
        q_probe.select(F.col("vec_id").alias("qid"), F.col("c_id").alias("qc")),
        cells.select(F.col("vec_id").alias("cid"), F.col("c_id").alias("cc")),
        _pq_encode(_slices(corpus, "ev", "vs", F.col("vec_id").alias("cid")), cb, "cid")
        .drop("sub_err"),
        _lut(_slices(queries, "ev", "qsv", F.col("vec_id").alias("qid")), cb, "qid"),
    )


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings
        WHERE vec_id < {_N_QUERIES}
    ), c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings
        WHERE vec_id >= {_N_QUERIES}
    ), scored AS (
        SELECT qid, cid,
               round(list_dot_product(qe, ce) /
                     (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
                     6) AS cos_sim
        FROM q CROSS JOIN c
    )
    SELECT qid, cid, cos_sim FROM (
        SELECT qid, cid, cos_sim,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, cid) AS rn
        FROM scored)
    WHERE rn <= {_TOP_K}
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: Q query vectors broadcast against all candidates,
    per-query top-k via window. The broadcast means the big (candidate) side
    never shuffles — at 100 TB this plan is a single scan of the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    # Norms hoisted to per-side columns BEFORE the pair join: computed once
    # per vector instead of once per pair (numerically identical —
    # sqrt(dot(v,v)) either way — so the oracle is unaffected).
    q = (
        _emb(e.filter(F.col("vec_id") < _N_QUERIES), "qid", "qe")
        .drop("label")
        .withColumn("qnorm", F.sqrt(_dot(F.col("qe"), F.col("qe"))))
    )
    c = (
        _emb(e.filter(F.col("vec_id") >= _N_QUERIES), "cid", "ce")
        .drop("label")
        .withColumn("cnorm", F.sqrt(_dot(F.col("ce"), F.col("ce"))))
    )
    sim = _dot(F.col("qe"), F.col("ce")) / (F.col("qnorm") * F.col("cnorm"))
    scored = c.join(F.broadcast(q)).select("qid", "cid", F.round(sim, 6).alias("cos_sim"))
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "cid")
    return (
        scored.select("qid", "cid", "cos_sim", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _TOP_K)
        .drop("rn")
    )


@query(
    "ann_cosine_topk_pandas",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings
        WHERE vec_id < {_N_QUERIES}
    ), c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings
        WHERE vec_id >= {_N_QUERIES}
    ), scored AS (
        SELECT qid, cid,
               round(list_dot_product(qe, ce) /
                     (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
                     4) AS cos_sim
        FROM q CROSS JOIN c
    )
    SELECT qid, cid, cos_sim FROM (
        SELECT qid, cid, cos_sim,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, cid) AS rn
        FROM scored)
    WHERE rn <= {_TOP_K}
    """,
)
def ann_cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same top-k on the vectorized path: an Arrow-batched pandas UDF doing
    numpy batch cosine. This is the hot-path implementation at scale —
    per-batch ``(A*B).sum(axis=1)`` instead of a per-row JVM fold. Rounded
    at 4dp because numpy's pairwise summation may differ from a sequential
    fold in the last ulps."""
    import numpy as np

    @F.pandas_udf("double")
    def cos_sim_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.values)
        B = np.stack(b.values)
        num = (A * B).sum(axis=1)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / den)

    e = load_table(spark, sf_dir, "embeddings")
    q = _emb(e.filter(F.col("vec_id") < _N_QUERIES), "qid", "qe").drop("label")
    c = _emb(e.filter(F.col("vec_id") >= _N_QUERIES), "cid", "ce").drop("label")
    scored = c.join(F.broadcast(q)).select(
        "qid", "cid", F.round(cos_sim_udf("qe", "ce"), 4).alias("cos_sim")
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "cid")
    return (
        scored.select("qid", "cid", "cos_sim", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _TOP_K)
        .drop("rn")
    )


@query(
    "ann_lsh_buckets",
    oracle=f"""
    WITH planes AS (
        SELECT vec_id AS p_id, embedding::DOUBLE[] AS pe FROM embeddings
        WHERE vec_id BETWEEN 1 AND {_N_PLANES}
    )
    SELECT e.vec_id,
           CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pe) > 0
                         THEN power(2, p.p_id - 1) ELSE 0 END) AS BIGINT) AS bucket
    FROM embeddings e CROSS JOIN planes p
    GROUP BY e.vec_id
    """,
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment. Hyperplanes are pinned,
    data-derived vectors (vec_id 1..8) so both engines compute identical
    buckets; production uses seeded Gaussian planes — the plan shape is the
    same: tiny plane set broadcast, one scan, sign-bit bucket id per row."""
    e = load_table(spark, sf_dir, "embeddings")
    planes = _emb(e.filter(F.col("vec_id").between(1, _N_PLANES)), "p_id", "pe").drop("label")
    ev = _emb(e, "vec_id", "ev").drop("label")
    bit = F.when(_dot(F.col("ev"), F.col("pe")) > 0, F.pow(F.lit(2.0), F.col("p_id") - 1)).otherwise(0.0)
    return (
        ev.join(F.broadcast(planes))
        .groupBy("vec_id")
        .agg(F.sum(bit).cast("long").alias("bucket"))
    )


@query(
    "ann_lsh_bucket_stats",
    oracle=f"""
    WITH planes AS (
        SELECT vec_id AS p_id, embedding::DOUBLE[] AS pe FROM embeddings
        WHERE vec_id BETWEEN 1 AND {_N_PLANES}
    ), buckets AS (
        SELECT e.vec_id,
               CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pe) > 0
                             THEN power(2, p.p_id - 1) ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id
    )
    SELECT bucket, count(*) AS n_vectors,
           CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n_pairs
    FROM buckets GROUP BY bucket
    """,
)
def ann_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size histogram + induced candidate-pair count — the skew
    diagnostic that decides whether the LSH pair stage is feasible
    (sum(n_pairs) is the actual verify-join cost vs N(N-1)/2 brute force)."""
    buckets = ann_lsh_buckets(spark, sf_dir)
    return buckets.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2).cast("long").alias("n_pairs"),
    )


@query(
    "knn_label_vote",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qe, label AS true_label
        FROM embeddings WHERE vec_id < 20
    ), c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce, label FROM embeddings
        WHERE vec_id >= 20
    ), topk AS (
        SELECT qid, true_label, cid, label FROM (
            SELECT qid, true_label, cid, label,
                   row_number() OVER (PARTITION BY qid ORDER BY
                       round(list_dot_product(qe, ce) /
                             (sqrt(list_dot_product(qe, qe)) *
                              sqrt(list_dot_product(ce, ce))), 6) DESC, cid) AS rn
            FROM q CROSS JOIN c)
        WHERE rn <= {_TOP_K}
    )
    SELECT qid, true_label, label AS pred_label FROM (
        SELECT qid, true_label, label,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY count(*) DESC, label) AS rn
        FROM topk GROUP BY qid, true_label, label)
    WHERE rn = 1
    """,
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification: top-10 cosine neighbors → majority label vote
    (ties broken by smaller label). The fixture's label column makes this a
    sanity check that neighbor sets are semantically meaningful."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qe"),
        F.col("label").alias("true_label"),
    ).withColumn("qnorm", F.sqrt(_dot(F.col("qe"), F.col("qe"))))
    c = e.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("ce"),
        "label",
    ).withColumn("cnorm", F.sqrt(_dot(F.col("ce"), F.col("ce"))))
    sim = _dot(F.col("qe"), F.col("ce")) / (F.col("qnorm") * F.col("cnorm"))
    w = W.partitionBy("qid").orderBy(F.round(sim, 6).desc(), "cid")
    topk = (
        c.join(F.broadcast(q))
        .select("qid", "true_label", "cid", "label", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _TOP_K)
    )
    votes = topk.groupBy("qid", "true_label", "label").agg(F.count(F.lit(1)).alias("n"))
    wv = W.partitionBy("qid").orderBy(F.col("n").desc(), "label")
    return (
        votes.select("qid", "true_label", "label", F.row_number().over(wv).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("qid", "true_label", F.col("label").alias("pred_label"))
    )


@query(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH planes AS (
        SELECT vec_id AS p_id, embedding::DOUBLE[] AS pe FROM embeddings
        WHERE vec_id BETWEEN 1 AND {_N_PLANES}
    ), buckets AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev,
               CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pe) > 0
                             THEN power(2, p.p_id - 1) ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id, e.embedding
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.ev, b.ev) /
                 (sqrt(list_dot_product(a.ev, a.ev)) *
                  sqrt(list_dot_product(b.ev, b.ev))), 6) AS cos_sim
    FROM buckets a JOIN buckets b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.ev, b.ev) /
          (sqrt(list_dot_product(a.ev, a.ev)) *
           sqrt(list_dot_product(b.ev, b.ev))) >= 0.4
    """,
)
def embedding_near_dup_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = None
) -> DataFrame:
    """Embedding-cosine near-duplicate detection, LSH-scoped: exact cosine
    is evaluated only for bucket-mates (same 8-bit hyperplane signature),
    never across the full N² pair space — the all-pairs dedup pattern that
    actually runs at 100 TB. Threshold 0.4 on this fixture's unit-scale
    vectors. ``bucket_cap`` engages the degenerate-bucket guard (the
    `dedup_minhash_lsh_capped` discipline in embedding space): buckets
    above the cap are dropped BEFORE the pair join, bounding worst-case
    per-bucket work; the tiny kept-bucket list broadcasts."""
    buckets = ann_lsh_buckets(spark, sf_dir)
    if bucket_cap is not None:
        ok = (
            buckets.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") <= bucket_cap)
            .select("bucket")
        )
        buckets = buckets.join(F.broadcast(ok), "bucket")
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )
    be = buckets.join(e, "vec_id").withColumn(
        "nrm", F.sqrt(_dot(F.col("ev"), F.col("ev")))
    )
    a = be.select(
        F.col("vec_id").alias("id_a"), F.col("bucket"), F.col("ev").alias("ev_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = be.select(
        F.col("vec_id").alias("id_b"), F.col("bucket").alias("bucket_b"),
        F.col("ev").alias("ev_b"), F.col("nrm").alias("nrm_b"),
    )
    sim = _dot(F.col("ev_a"), F.col("ev_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        a.join(b, (F.col("bucket") == F.col("bucket_b")) & (F.col("id_a") < F.col("id_b")))
        .filter(sim >= 0.4)
        .select("id_a", "id_b", F.round(sim, 6).alias("cos_sim"))
    )


def _ivf_oracle(nprobe: int) -> str:
    return f"""
    WITH cent AS (
        SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings
        WHERE vec_id BETWEEN 10 AND {10 + _N_CENTROIDS - 1}
    ), ranked AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.c_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   round(list_dot_product(e.embedding::DOUBLE[], c.ce) /
                         (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                e.embedding::DOUBLE[])) *
                          sqrt(list_dot_product(c.ce, c.ce))), 6) DESC,
                   c.c_id) AS rn
        FROM embeddings e CROSS JOIN cent c
    ), q AS (
        SELECT vec_id AS qid, ev AS qe, c_id AS qc FROM ranked
        WHERE vec_id < {_N_QUERIES} AND rn <= {nprobe}
    ), cand AS (
        SELECT vec_id AS cid, ev AS ce2, c_id AS cc FROM ranked
        WHERE vec_id >= {_N_QUERIES} AND rn = 1
    ), scored AS (
        SELECT q.qid, cand.cid,
               round(list_dot_product(q.qe, cand.ce2) /
                     (sqrt(list_dot_product(q.qe, q.qe)) *
                      sqrt(list_dot_product(cand.ce2, cand.ce2))), 6) AS cos_sim
        FROM q JOIN cand ON cand.cc = q.qc
    )
    SELECT qid, cid, cos_sim FROM (
        SELECT qid, cid, cos_sim,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, cid) AS rn
        FROM scored)
    WHERE rn <= {_TOP_K}
    """


def _ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """IVF ANN kernel: candidates live in their ONE nearest-centroid cell;
    each query probes its ``nprobe`` nearest cells."""
    ev = _vectors(spark, sf_dir)
    q, c = _probes(_cell_rank(ev, _centroids(ev), "ev", "evnorm"), nprobe)
    q = q.select(
        F.col("vec_id").alias("qid"), F.col("ev").alias("qe"), F.col("c_id").alias("qc"),
        F.col("evnorm").alias("qn"),
    )
    c = c.select(
        F.col("vec_id").alias("cid"), F.col("ev").alias("ce2"), F.col("c_id").alias("cc"),
        F.col("evnorm").alias("cn"),
    )
    sim = _dot(F.col("qe"), F.col("ce2")) / (F.col("qn") * F.col("cn"))
    scored = c.join(F.broadcast(q), F.col("cc") == F.col("qc")).select(
        "qid", "cid", F.round(sim, 6).alias("cos_sim")
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "cid")
    return (
        scored.select("qid", "cid", "cos_sim", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _TOP_K)
        .drop("rn")
    )


@query("ann_ivf_topk", oracle=_ivf_oracle(1))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: every vector is assigned to its nearest
    centroid (pinned, data-derived centroids so both engines agree; real
    IVF trains k-means — the plan shape is identical), and each query
    probes ONLY its own cell (nprobe=1). Cost per query drops from O(N)
    to O(N/k); the cell assignment is the shuffle key — at 100 TB each
    cell is a partition-local candidate list, and queries route by
    centroid id instead of scanning the corpus.

    Recall trades against probed cells: MEASURED (tools/recall_study.py,
    sf0.01) recall@10 = 0.22 at nprobe=1 with these untrained pinned
    centroids — see ann_ivf_topk_nprobe3 for the multi-probe recovery."""
    return _ivf_topk(spark, sf_dir, nprobe=1)


@query("ann_ivf_topk_nprobe3", oracle=_ivf_oracle(3))
def ann_ivf_topk_nprobe3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF: each query probes its 3 nearest cells — the
    standard recall knob when centroids are coarse (cost scales with
    nprobe/k of the corpus, still never O(N)). MEASURED
    (tools/recall_study.py, sf0.01): recall@10 = 0.22 / 0.34 / 0.50 / 1.0
    at nprobe 1/2/3/8 — the synthetic embeddings have no cluster
    structure, so recall ≈ fraction of corpus probed, the theoretical
    floor; clustered real embeddings with trained k-means centroids sit
    far above it."""
    return _ivf_topk(spark, sf_dir, nprobe=3)


@query(
    "embedding_norm_stats",
    oracle="""
    SELECT label,
           count(*) AS n,
           round(sum(sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[]))), 4) AS sum_norm,
           round(min(sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[]))), 6) AS min_norm,
           round(max(sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[]))), 6) AS max_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution per label — the hygiene check before any
    cosine-based pipeline (catches zero/unnormalized vectors). Emits
    sum+count instead of avg (repo convention: an avg divides once at the
    end and can land ON a rounding boundary, flipping the last digit
    between engines; the mean is derivable downstream)."""
    e = load_table(spark, sf_dir, "embeddings")
    ev = F.col("embedding").cast("array<double>")
    norm = F.sqrt(_dot(ev, ev))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(norm), 4).alias("sum_norm"),
        F.round(F.min(norm), 6).alias("min_norm"),
        F.round(F.max(norm), 6).alias("max_norm"),
    )


@query(
    "ann_kmeans_iteration",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce,
               list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS cc
        FROM embeddings WHERE vec_id BETWEEN 10 AND {10 + _N_CENTROIDS - 1}
    ), pts AS (
        SELECT vec_id, embedding::DOUBLE[] AS ev,
               list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv
        FROM embeddings
    ), assigned AS (
        SELECT vec_id, vv, c_id, d2 FROM (
            SELECT p.vec_id, p.vv, c.c_id,
                   round(p.vv - 2 * list_dot_product(p.ev, c.ce) + c.cc, 6) AS d2,
                   row_number() OVER (PARTITION BY p.vec_id
                                      ORDER BY round(p.vv - 2 * list_dot_product(p.ev, c.ce)
                                                     + c.cc, 6), c.c_id) AS rn
            FROM pts p CROSS JOIN cent c)
        WHERE rn = 1
    ), comp AS (
        SELECT a.vec_id, a.c_id, a.d2,
               list_sum(p.ev) AS vsum
        FROM assigned a JOIN pts p ON a.vec_id = p.vec_id
    )
    SELECT c_id AS cluster_id,
           count(*) AS n_members,
           round(sum(d2), 4) AS inertia,
           round(sum(vsum), 4) AS member_component_sum
    FROM comp
    GROUP BY 1
    """,
)
def ann_kmeans_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) iteration over the embedding corpus — the
    training step the IVF queries' docstrings point at ("real IVF trains
    k-means"): assign every vector to its nearest centroid by squared L2
    distance, then report each cluster's size, inertia contribution
    (sum of assigned distances — the quantity Lloyd descends), and the
    member component sum (the numerator of the new centroid mean; the
    mean itself is a downstream division by n_members, kept un-divided
    per the repo's sum+count convention so no avg lands on a rounding
    boundary).

    d2 is expanded as ||v||² − 2·v·c + ||c||² from three sequential-fold
    dot products (identical evaluation order to DuckDB's
    list_dot_product), rounded to 6dp BEFORE the argmin so ULP noise
    cannot flip an assignment between engines; ties break on centroid
    id.

    Scale posture: the K=8 centroid table is broadcast (K is always
    broadcastable — it is the model, not the data); the corpus side is
    scanned once, amplified ×K map-side, reduced by the per-vector
    argmin window on vec_id (one shuffle), then aggregated per cluster
    (second shuffle, K rows out). Iterating to convergence re-runs this
    plan with the updated (still tiny) centroid table — the loop driver
    stays outside Spark, the data never leaves the executors. At 100 TB
    this is the canonical mini-batch-able k-means step.
    """
    ev = _vectors(spark, sf_dir)
    pts = ev.withColumn("vv", _dot(F.col("ev"), F.col("ev")))
    d2 = _sq_l2("ev", "ce", F.col("vv"), F.col("cc"))
    vsum = F.aggregate(F.col("ev"), F.lit(0.0), lambda acc, x: acc + x)
    w_assign = W.partitionBy("vec_id").orderBy("d2", "c_id")
    assigned = (
        pts.join(F.broadcast(_centroids(ev)))
        .select("vec_id", "c_id", d2.alias("d2"), vsum.alias("vsum"))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
    )
    return assigned.groupBy(F.col("c_id").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.sum("d2"), 4).alias("inertia"),
        F.round(F.sum("vsum"), 4).alias("member_component_sum"),
    )


@query(
    "ann_pq_codes",
    oracle=f"""
    WITH subs AS (
        SELECT * FROM (VALUES (0), (1), (2), (3)) AS s(sub_id)
    ), cb AS (
        SELECT s.sub_id,
               e.vec_id - {_PQ_SEED_LO} AS code,
               list_slice(e.embedding::DOUBLE[],
                          s.sub_id * {_PQ_SUBDIM} + 1,
                          s.sub_id * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS cs
        FROM embeddings e CROSS JOIN subs s
        WHERE e.vec_id BETWEEN {_PQ_SEED_LO} AND {_PQ_SEED_LO + _PQ_K - 1}
    ), pt AS (
        SELECT e.vec_id, s.sub_id,
               list_slice(e.embedding::DOUBLE[],
                          s.sub_id * {_PQ_SUBDIM} + 1,
                          s.sub_id * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS vs
        FROM embeddings e CROSS JOIN subs s
    )
    SELECT vec_id, sub_id, code, sub_err FROM (
        SELECT pt.vec_id, pt.sub_id, cb.code,
               round(list_dot_product(pt.vs, pt.vs)
                     - 2 * list_dot_product(pt.vs, cb.cs)
                     + list_dot_product(cb.cs, cb.cs), 6) AS sub_err,
               row_number() OVER (
                   PARTITION BY pt.vec_id, pt.sub_id
                   ORDER BY round(list_dot_product(pt.vs, pt.vs)
                                  - 2 * list_dot_product(pt.vs, cb.cs)
                                  + list_dot_product(cb.cs, cb.cs), 6),
                            cb.code) AS rn
        FROM pt JOIN cb ON pt.sub_id = cb.sub_id)
    WHERE rn = 1
    """,
)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding — the compression half of IVF-PQ,
    the standard way billion-vector indexes shrink embeddings ~32× while
    keeping approximate distances computable from m small lookup tables.
    Each vector splits into m=4 subvectors; each subvector is
    assigned its nearest codebook entry (k=4 per subspace, slices
    of pinned seed vectors — real PQ trains per-subspace k-means, and
    ann_kmeans_iteration IS that training step) by squared L2, rounded
    to 6dp BEFORE the argmin with ties on code id (the ULP discipline
    every assignment op in this family shares).

    Output is per (vec_id, sub_id) — deliberately NOT pivoted to one
    row: the 4 sub-errors would then need a cross-column float sum whose
    addition order is engine-dependent; per-subspace rows keep every
    float a single exactly-rounded expression.

    Scale posture: the codebook (m·k = 16 slices) is the model — always
    broadcast; the corpus explodes ×m map-side (slices are projections,
    not shuffles), and the only exchange is the per-(vec, sub) argmin
    window. Encoding 100 TB of embeddings is one scan, one bounded-width
    shuffle, no all-pairs anything."""
    ev = _vectors(spark, sf_dir)
    return _pq_encode(_slices(ev, "ev", "vs", "vec_id"), _codebook(ev), "vec_id")


_IVFPQ_ORACLE = f"""
    WITH subs AS (
        SELECT * FROM (VALUES (0), (1), (2), (3)) AS s(sub_id)
    ), ev AS (
        SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
    ), cent AS (
        SELECT vec_id AS c_id, ev AS ce FROM ev
        WHERE vec_id BETWEEN 10 AND {10 + _N_CENTROIDS - 1}
    ), ranked AS (
        SELECT e.vec_id, c.c_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   round(list_dot_product(e.ev, c.ce) /
                         (sqrt(list_dot_product(e.ev, e.ev)) *
                          sqrt(list_dot_product(c.ce, c.ce))), 6) DESC,
                   c.c_id) AS rn
        FROM ev e CROSS JOIN cent c
    ), cand_cell AS (
        SELECT vec_id AS cid, c_id AS cc FROM ranked
        WHERE vec_id >= {_N_QUERIES} AND rn = 1
    ), q_probe AS (
        SELECT vec_id AS qid, c_id AS qc FROM ranked
        WHERE vec_id < {_N_QUERIES} AND rn <= {_IVFPQ_NPROBE}
    ), cb AS (
        SELECT s.sub_id, e.vec_id - {_PQ_SEED_LO} AS code,
               list_slice(e.ev, s.sub_id * {_PQ_SUBDIM} + 1,
                          s.sub_id * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS cs
        FROM ev e CROSS JOIN subs s
        WHERE e.vec_id BETWEEN {_PQ_SEED_LO} AND {_PQ_SEED_LO + _PQ_K - 1}
    ), pt AS (
        SELECT e.vec_id AS cid, s.sub_id,
               list_slice(e.ev, s.sub_id * {_PQ_SUBDIM} + 1,
                          s.sub_id * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS vs
        FROM ev e CROSS JOIN subs s WHERE e.vec_id >= {_N_QUERIES}
    ), codes AS (
        SELECT cid, sub_id, code FROM (
            SELECT pt.cid, pt.sub_id, cb.code,
                   row_number() OVER (PARTITION BY pt.cid, pt.sub_id ORDER BY
                       round(list_dot_product(pt.vs, pt.vs)
                             - 2 * list_dot_product(pt.vs, cb.cs)
                             + list_dot_product(cb.cs, cb.cs), 6),
                       cb.code) AS rn
            FROM pt JOIN cb ON pt.sub_id = cb.sub_id)
        WHERE rn = 1
    ), qs AS (
        SELECT e.vec_id AS qid, s.sub_id,
               list_slice(e.ev, s.sub_id * {_PQ_SUBDIM} + 1,
                          s.sub_id * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS qsv
        FROM ev e CROSS JOIN subs s WHERE e.vec_id < {_N_QUERIES}
    ), lut AS (
        SELECT qs.qid, qs.sub_id, cb.code,
               CAST(floor(round(list_dot_product(qs.qsv, qs.qsv)
                                - 2 * list_dot_product(qs.qsv, cb.cs)
                                + list_dot_product(cb.cs, cb.cs), 6)
                          * 1000000 + 0.5) AS BIGINT) AS lut_micro
        FROM qs JOIN cb ON qs.sub_id = cb.sub_id
    ), adc AS (
        SELECT p.qid, p.cid, CAST(sum(l.lut_micro) AS BIGINT) AS adc_micro
        FROM (SELECT q.qid, c.cid FROM cand_cell c
              JOIN q_probe q ON c.cc = q.qc) p
        JOIN codes co ON co.cid = p.cid
        JOIN lut l ON l.qid = p.qid AND l.sub_id = co.sub_id
                   AND l.code = co.code
        GROUP BY p.qid, p.cid
    ), short AS (
        SELECT qid, cid, adc_micro FROM (
            SELECT qid, cid, adc_micro,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY adc_micro, cid) AS rn
            FROM adc)
        WHERE rn <= {_IVFPQ_SHORTLIST}
    ), rer AS (
        SELECT s.qid, s.cid, s.adc_micro,
               round(list_dot_product(q.ev, q.ev)
                     - 2 * list_dot_product(q.ev, c.ev)
                     + list_dot_product(c.ev, c.ev), 6) AS l2_exact
        FROM short s
        JOIN ev q ON q.vec_id = s.qid
        JOIN ev c ON c.vec_id = s.cid
    )
    SELECT qid, cid, l2_exact, adc_micro, CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT qid, cid, adc_micro, l2_exact,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY l2_exact, cid) AS rnk
        FROM rer)
    WHERE rnk <= {_TOP_K}
    """


@query(
    "ann_ivfpq_retrieval",
    oracle=_IVFPQ_ORACLE,
)
def ann_ivfpq_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF-PQ retrieval — the billion-vector search shape,
    composing the registered pieces: the coarse quantizer is
    ``ann_ivf_topk``'s cosine cell assignment (candidates live in their 1
    nearest-centroid cell, queries probe their nprobe=3 nearest), the
    compressed index is ``ann_pq_codes``'s per-subspace L2 code
    assignment, and candidate ranking is ADC (asymmetric distance
    computation): per query, a 16-entry (m=4 subspaces × k=4 codes)
    lookup table of exact query-subvector→codebook-entry squared-L2
    terms; a candidate's approximate distance is the sum of its m looked-
    up entries. The ADC top-k'=30 shortlist is then re-ranked by EXACT
    squared L2 against the raw vectors, and the top-10 emitted.

    Cross-engine determinism: each LUT term is rounded to 6dp then fixed-
    pointed to integer MICRO-units (floor(x*1e6+0.5) as BIGINT), so the
    m-way ADC sum is exact integer arithmetic — no float-accumulation
    order to disagree on (the cents discipline, FIXTURES.md); shortlist
    and final ranks tie-break on cid.

    Scale posture (the whole point of IVF-PQ): the model — centroids
    (8) + codebooks (16 slices) + query probe map + per-query LUT (80
    rows) — is broadcast everywhere; candidates are restricted to probed
    cells BEFORE any distance work, ADC needs only the m×1-byte codes
    (32× compression — the corpus vectors are never moved), and exact
    vectors are fetched for just k' rows per query. Honest scan
    accounting (rescan audit): this end-to-end plan makes THREE
    corpus-wide passes — cell assignment, PQ encoding, and the shortlist
    vector fetch (the other embeddings scans are pruned to the ≤24
    model-seed rows by pushed-down vec_id filters). At 100 TB the first
    two are the INDEX BUILD, run once and materialized (cells + codes
    written to storage, exactly what ann_pq_codes emits); the per-query
    path then touches codes in probed cells plus k' raw vectors only —
    bounded-width shuffles keyed by (vec, sub), no all-pairs join
    anywhere. Recall study on a CLUSTERED
    fixture (BASELINE.md, IVF-PQ row): raw-vector PQ as here
    reaches recall@10 0.086 at 7.5% corpus scanned; the residual-encoded
    variant (``ann_ivfpq_residual``) lifts that to 0.240 (m=4) / 0.422
    (m=8) at the same scan fraction."""
    ev = _vectors(spark, sf_dir)
    q_probe, cells, codes, lut = _ivfpq_raw(ev)
    pairs = cells.join(F.broadcast(q_probe), F.col("cc") == F.col("qc"))
    hits = pairs.select("qid", "cid").join(codes, "cid")
    return _adc_rerank(ev, hits.join(F.broadcast(lut), ["qid", "sub_id", "code"]))


@query(
    "ann_ivfpq_residual",
    oracle=f"""
    WITH subs AS (
        SELECT * FROM (VALUES (0), (1), (2), (3)) AS s(sub_id)
    ), ev AS (
        SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
    ), cent AS (
        SELECT vec_id AS c_id, ev AS ce FROM ev
        WHERE vec_id BETWEEN 10 AND {10 + _N_CENTROIDS - 1}
    ), ranked AS (
        SELECT e.vec_id, c.c_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   round(list_dot_product(e.ev, c.ce) /
                         (sqrt(list_dot_product(e.ev, e.ev)) *
                          sqrt(list_dot_product(c.ce, c.ce))), 6) DESC,
                   c.c_id) AS rn
        FROM ev e CROSS JOIN cent c
    ), cand_res AS (
        -- corpus residual v - centroid(cell(v)): IVFADC encodes residuals
        SELECT r.vec_id AS cid, r.c_id AS cc,
               list_transform(list_zip(e.ev, c.ce), x -> x[1] - x[2]) AS rv
        FROM ranked r
        JOIN ev e ON e.vec_id = r.vec_id
        JOIN cent c ON c.c_id = r.c_id
        WHERE r.vec_id >= {_N_QUERIES} AND r.rn = 1
    ), q_res AS (
        -- query residual per PROBED cell
        SELECT r.vec_id AS qid, r.c_id AS qc,
               list_transform(list_zip(e.ev, c.ce), x -> x[1] - x[2]) AS qrv
        FROM ranked r
        JOIN ev e ON e.vec_id = r.vec_id
        JOIN cent c ON c.c_id = r.c_id
        WHERE r.vec_id < {_N_QUERIES} AND r.rn <= {_IVFPQ_NPROBE}
    ), cb AS (
        SELECT s.sub_id, e.vec_id - {_PQ_SEED_LO} AS code,
               list_slice(e.ev, s.sub_id * {_PQ_SUBDIM} + 1,
                          s.sub_id * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS cs
        FROM ev e CROSS JOIN subs s
        WHERE e.vec_id BETWEEN {_PQ_SEED_LO} AND {_PQ_SEED_LO + _PQ_K - 1}
    ), pt AS (
        SELECT c.cid, c.cc, s.sub_id,
               list_slice(c.rv, s.sub_id * {_PQ_SUBDIM} + 1,
                          s.sub_id * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS vs
        FROM cand_res c CROSS JOIN subs s
    ), codes AS (
        SELECT cid, cc, sub_id, code FROM (
            SELECT pt.cid, pt.cc, pt.sub_id, cb.code,
                   row_number() OVER (PARTITION BY pt.cid, pt.sub_id ORDER BY
                       round(list_dot_product(pt.vs, pt.vs)
                             - 2 * list_dot_product(pt.vs, cb.cs)
                             + list_dot_product(cb.cs, cb.cs), 6),
                       cb.code) AS rn
            FROM pt JOIN cb ON pt.sub_id = cb.sub_id)
        WHERE rn = 1
    ), qs AS (
        SELECT q.qid, q.qc, s.sub_id,
               list_slice(q.qrv, s.sub_id * {_PQ_SUBDIM} + 1,
                          s.sub_id * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS qsv
        FROM q_res q CROSS JOIN subs s
    ), lut AS (
        SELECT qs.qid, qs.qc, qs.sub_id, cb.code,
               CAST(floor(round(list_dot_product(qs.qsv, qs.qsv)
                                - 2 * list_dot_product(qs.qsv, cb.cs)
                                + list_dot_product(cb.cs, cb.cs), 6)
                          * 1000000 + 0.5) AS BIGINT) AS lut_micro
        FROM qs JOIN cb ON qs.sub_id = cb.sub_id
    ), adc AS (
        SELECT l.qid, co.cid, CAST(sum(l.lut_micro) AS BIGINT) AS adc_micro
        FROM codes co
        JOIN lut l ON l.qc = co.cc AND l.sub_id = co.sub_id
                   AND l.code = co.code
        GROUP BY l.qid, co.cid
    ), short AS (
        SELECT qid, cid, adc_micro FROM (
            SELECT qid, cid, adc_micro,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY adc_micro, cid) AS rn
            FROM adc)
        WHERE rn <= {_IVFPQ_SHORTLIST}
    ), rer AS (
        SELECT s.qid, s.cid, s.adc_micro,
               round(list_dot_product(q.ev, q.ev)
                     - 2 * list_dot_product(q.ev, c.ev)
                     + list_dot_product(c.ev, c.ev), 6) AS l2_exact
        FROM short s
        JOIN ev q ON q.vec_id = s.qid
        JOIN ev c ON c.vec_id = s.cid
    )
    SELECT qid, cid, l2_exact, adc_micro, CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT qid, cid, adc_micro, l2_exact,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY l2_exact, cid) AS rnk
        FROM rer)
    WHERE rnk <= {_TOP_K}
    """,
)
def ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC proper (Jegou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011): identical pipeline to
    ``ann_ivfpq_retrieval`` except PQ encodes the RESIDUAL v − c(v)
    (each vector minus its own cell centroid), and the per-query ADC
    lookup table is built from the query's residual against each PROBED
    cell's centroid — so codes and query live in the same residual
    space. This is the variant real billion-vector indexes ship:
    residuals strip the coarse cluster structure the cell assignment
    already captured, leaving the codebooks to spend their bits on
    within-cell geometry. MEASURED on the clustered fixture
    (trained codebooks): recall@10 0.086 (raw PQ)
    → 0.240 (residual, m=4) → 0.422 (residual, m=8) at the same 7.5%
    corpus scanned; recorded in BASELINE.md.

    Plan deltas vs the raw variant: the corpus residual is a map-side
    ``zip_with`` subtraction against the (broadcast) centroid of the
    row's own cell — no new corpus pass (same three-pass
    build/build/fetch accounting as the raw variant's docstring); the
    LUT grows
    ×nprobe (one residual table per probed cell, 240 rows total) and
    stays broadcast; the ADC join now matches on (cell, sub, code) so a
    candidate is only ever scored against the LUT of the cell it lives
    in. Same integer-micro exact-sum discipline throughout."""
    ev = _vectors(spark, sf_dir)
    cent = _centroids(ev)
    q_cells, c_cells = _probes(_cell_rank(ev, cent, "ev"), _IVFPQ_NPROBE)
    cent_vec = F.broadcast(cent.select("c_id", "ce"))
    res = F.zip_with("ev", "ce", lambda x, y: x - y)
    cand_res = c_cells.join(cent_vec, "c_id").select(
        F.col("vec_id").alias("cid"), F.col("c_id").alias("cc"), res.alias("rv")
    )
    q_res = q_cells.join(cent_vec, "c_id").select(
        F.col("vec_id").alias("qid"), F.col("c_id").alias("qc"), res.alias("qrv")
    )
    cb = _codebook(ev)
    codes = _pq_encode(_slices(cand_res, "rv", "vs", "cid", "cc"), cb, "cid", "cc")
    lut = _lut(_slices(q_res, "qrv", "qsv", "qid", "qc"), cb, "qid", F.col("qc").alias("cc"))
    hits = codes.drop("sub_err").join(F.broadcast(lut), ["cc", "sub_id", "code"])
    return _adc_rerank(ev, hits)


@query("ann_ivfpq_index_build", oracle=_IVFPQ_ORACLE)
def ann_ivfpq_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILD/QUERY split of IVF-PQ — what the retrieval docstrings'
    scan accounting promises actually materialized: the index-build half
    (cell assignment + PQ codes, the two corpus-wide passes) is WRITTEN
    to parquet once, and the query half runs entirely from the
    materialized index — per-query work is the broadcast probe/LUT, an
    ADC join against the (cid, cc, sub_id, code) index, and ONE corpus
    pass to fetch raw vectors for the k'-row shortlist. Same answer as
    ``ann_ivfpq_retrieval`` by construction (identical oracle): the
    split changes WHEN work happens, never what is computed. At 100 TB
    the build runs once per corpus version (index parquet is ~m bytes
    per vector, here 4 codes + 1 cell id per 256-byte embedding) and the
    query path amortizes it across every search."""
    import os as _os

    from presto_truffle_spark.sources.io import _scoped_scratch

    ev = _vectors(spark, sf_dir)
    q_probe, cells, codes, lut = _ivfpq_raw(ev)
    # ---------------- BUILD: two corpus passes, written once ----------
    index_path = _scoped_scratch(spark, f"ivfpq_index_{_os.path.basename(sf_dir)}")
    cells.join(codes, "cid").write.mode("overwrite").parquet(index_path)
    # ---------------- QUERY: runs from the materialized index ---------
    index = spark.read.parquet(index_path)
    hits = index.join(F.broadcast(q_probe), F.col("cc") == F.col("qc"))
    return _adc_rerank(ev, hits.join(F.broadcast(lut), ["qid", "sub_id", "code"]))


_INT8_ORACLE = f"""
    WITH q8 AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   x -> CAST(floor(x / (list_max(list_transform(
                            embedding::DOUBLE[], y -> abs(y))) / 127) + 0.5)
                        AS BIGINT)) AS qv,
               list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) / 127
                   AS scale
        FROM embeddings
        WHERE list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) > 0
    ), scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               list_dot_product(a.qv, b.qv) AS qdot,
               list_dot_product(a.qv, b.qv) * a.scale * b.scale AS deq
        FROM q8 a JOIN q8 b
          ON a.vec_id < {_N_QUERIES} AND b.vec_id >= {_N_QUERIES}
    )
    SELECT qid, cid,
           CAST(row_number() OVER (PARTITION BY qid
                ORDER BY round(deq, 6) DESC, cid) AS BIGINT) AS rnk,
           CAST(qdot AS BIGINT) AS qdot,
           floor(deq * 1000000 + 0.5) / 1000000 AS deq_dot
    FROM scored
    QUALIFY rnk <= {_TOP_K}
"""


@query("ann_int8_retrieval", oracle=_INT8_ORACLE)
def ann_int8_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k retrieval over INT8-QUANTIZED vectors — the
    ``embedding_quantize_int8`` storage format actually queried: per-
    vector symmetric absmax/127 quantization, candidate scoring by the
    INTEGER dot product of code vectors (exact int64 arithmetic — the
    int8-SIMD kernel every production vector store runs), dequantized by
    the two scalar scales only at ranking time. Ranking is
    round(dequantized, 6) DESC with cid as the deterministic tie-break,
    emitting the raw integer dot alongside so the exact-integer part of
    the score is hash-checked separately from the float tail.

    Scale: quantization is a row expression in the corpus scan (4×
    smaller vectors than float32, 8× than this fixture's doubles —
    memory bandwidth IS the brute-force scan bottleneck); scoring
    touches int8 codes only; scales are two scalars per pair. The
    query side (5 rows) broadcasts; one corpus pass, top-k via
    row_number over qid. Same plan shape as ``ann_cosine_topk`` — only
    the element width changes, which is the point."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )
    absmax = F.array_max(F.transform("ev", lambda x: F.abs(x)))
    q8 = (
        e.filter(absmax > 0)
        .withColumn("scale", absmax / 127)
        .withColumn(
            "qv",
            F.transform(
                "ev", lambda x: F.floor(x / F.col("scale") + 0.5).cast("long")
            ),
        )
        .select("vec_id", "qv", "scale")
    )
    qs = q8.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qa"),
        F.col("scale").alias("sa"),
    )
    cs = q8.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("qb"),
        F.col("scale").alias("sb"),
    )
    qdot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = cs.join(F.broadcast(qs)).select(
        "qid", "cid", qdot.alias("qdot"),
        (qdot.cast("double") * F.col("sa") * F.col("sb")).alias("deq"),
    )
    w = W.partitionBy("qid").orderBy(F.round("deq", 6).desc(), "cid")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _TOP_K)
        .select(
            "qid", "cid", "rnk", "qdot",
            (F.floor(F.col("deq") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
                "deq_dot"
            ),
        )
    )


_DIST_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings
        WHERE vec_id < {_N_QUERIES}
    ), c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings
        WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES} + 25
    )
    SELECT qid, cid,
           floor(list_sum(list_transform(generate_series(1, len(qe)),
                     i -> abs(qe[i] - ce[i]))) * 1000000 + 0.5) / 1000000
               AS l1,
           floor(sqrt(list_sum(list_transform(generate_series(1, len(qe)),
                     i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))))
                 * 1000000 + 0.5) / 1000000 AS l2,
           floor(list_max(list_transform(generate_series(1, len(qe)),
                     i -> abs(qe[i] - ce[i]))) * 1000000 + 0.5) / 1000000
               AS linf,
           CAST(list_sum(list_transform(generate_series(1, len(qe)),
                     i -> CASE WHEN (qe[i] > 0) <> (ce[i] > 0)
                               THEN 1 ELSE 0 END)) AS BIGINT) AS sign_hamming,
           floor(list_dot_product(qe, ce) /
                 (sqrt(list_dot_product(qe, qe)) *
                  sqrt(list_dot_product(ce, ce))) * 1000000 + 0.5) / 1000000
               AS cosine
    FROM q CROSS JOIN c
"""


@query("embedding_distance_battery", oracle=_DIST_ORACLE)
def embedding_distance_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector-distance scalar surface in one query: L1 (Manhattan),
    L2 (Euclidean), L∞ (Chebyshev), sign-Hamming (the 1-bit-quantized
    distance LSH bucketing implies), and cosine — every metric a
    similarity pipeline chooses between, over the pinned query set × a
    25-vector corpus slice. All five are single-pass folds over the
    zipped pair (F.zip_with / F.aggregate — JVM-side higher-order
    functions, no UDF); the L1/L2/L∞ folds deliberately share the
    |a-b| intermediate shape DuckDB's list_transform spells, keeping
    the float op sequence engine-identical before the round-6 pin.
    Scale: metric choice changes only the fold expression — the plan
    (broadcast query side, one corpus scan) is `ann_cosine_topk`'s
    regardless of metric."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("ev").alias("qe")
    )
    c = e.filter(
        (F.col("vec_id") >= _N_QUERIES) & (F.col("vec_id") < _N_QUERIES + 25)
    ).select(F.col("vec_id").alias("cid"), F.col("ev").alias("ce"))
    diff = F.zip_with("qe", "ce", lambda a, b: F.abs(a - b))
    l1 = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with("qe", "ce", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    linf = F.array_max(diff)
    ham = F.aggregate(
        F.zip_with(
            "qe", "ce",
            lambda a, b: F.when((a > 0) != (b > 0), F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    cos = _dot(F.col("qe"), F.col("ce")) / (
        F.sqrt(_dot(F.col("qe"), F.col("qe")))
        * F.sqrt(_dot(F.col("ce"), F.col("ce")))
    )
    r6 = lambda col: F.floor(col * 1_000_000 + F.lit(0.5)) / 1_000_000  # noqa: E731
    return c.join(F.broadcast(q)).select(
        "qid", "cid",
        r6(l1).alias("l1"),
        r6(l2).alias("l2"),
        r6(linf).alias("linf"),
        ham.alias("sign_hamming"),
        r6(cos).alias("cosine"),
    )


_MMR_LAMBDA = 0.7  # relevance weight
_MMR_OMEGA = 0.3  # diversity weight — SPELLED, not computed: Python's
# 1 - 0.7 is 0.30000000000000004, a different double than the SQL
# literal 0.3 the oracle folds; both engines must multiply by the
# same bit pattern.
_MMR_K = 5  # diversified picks
_MMR_POOL = 20  # retrieval pool the rerank runs over


def _mmr_oracle() -> str:
    parts = [
        """
    WITH qv AS (
        SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0
    ), cand0 AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce,
               round(list_dot_product(qe, embedding::DOUBLE[]) /
                     (sqrt(list_dot_product(qe, qe)) *
                      sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[]))), 6) AS rel
        FROM embeddings CROSS JOIN qv WHERE vec_id >= 5
    ), cand AS (
        SELECT cid, ce, rel FROM (
            SELECT *, row_number() OVER (ORDER BY rel DESC, cid) AS rn
            FROM cand0)
        WHERE rn <= 20
    ), pairs AS (
        SELECT a.cid AS pa, b.cid AS pb,
               round(list_dot_product(a.ce, b.ce) /
                     (sqrt(list_dot_product(a.ce, a.ce)) *
                      sqrt(list_dot_product(b.ce, b.ce))), 6) AS sim
        FROM cand a JOIN cand b ON a.cid <> b.cid
    ), s1 AS (
        SELECT 1 AS mmr_rank, cid, rel, 0.7 * rel AS mmr
        FROM cand ORDER BY rel DESC, cid LIMIT 1
    ), sel1 AS (SELECT cid FROM s1)"""
    ]
    for r in range(2, _MMR_K + 1):
        parts.append(
            f""", s{r} AS (
        SELECT {r} AS mmr_rank, c.cid, c.rel,
               0.7 * c.rel - 0.3 * max(p.sim) AS mmr
        FROM cand c JOIN pairs p ON p.pa = c.cid
        WHERE p.pb IN (SELECT cid FROM sel{r - 1})
          AND c.cid NOT IN (SELECT cid FROM sel{r - 1})
        GROUP BY c.cid, c.rel
        ORDER BY mmr DESC, c.cid LIMIT 1
    ), sel{r} AS (SELECT cid FROM sel{r - 1} UNION ALL SELECT cid FROM s{r})"""
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM s{r}" for r in range(1, _MMR_K + 1)
    )
    parts.append(
        f"""
    SELECT CAST(mmr_rank AS BIGINT) AS mmr_rank,
           CAST(cid AS BIGINT) AS doc_id, rel,
           floor(mmr * 1000000 + 0.5) / 1000000 AS mmr
    FROM ({union})"""
    )
    return "".join(parts)


@query("search_mmr_diversify", oracle=_mmr_oracle())
def search_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified reranking (Carbonell &
    Goldstein, SIGIR'98): retrieve a cosine top-20 pool for the query
    vector (vec_id 0, candidates vec_id >= 5), then greedily select k=5
    picks maximizing 0.7*rel(c) - 0.3*max_{s in S} sim(c, s) — the
    serving-side answer to redundant near-identical hits in a deduped-
    but-not-disjoint corpus. The selection is sequential by definition
    (each step's diversity penalty depends on the picks so far), so the
    oracle UNROLLS the k steps as chained CTEs and the Spark side runs
    the same k-1 fixed iterations of join → group-max → argmax over the
    pool; ties break by doc_id at every argmax, and rel/sim enter the
    arithmetic 6dp-rounded so both engines fold identical doubles.

    Scale shape — retrieve distributed, rerank small: the pool retrieval
    is the broadcast-query corpus scan of `ann_cosine_topk` (or its
    IVF-PQ variants at 100 TB); the rerank touches only the pool
    (pairwise sims = pool^2 = 400 rows), which is localCheckpointed once
    so the k iterations never rescan the corpus. The iteration count is
    the constant k, not data-dependent — no convergence loop."""
    e = load_table(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("qe"))
        .withColumn("qnorm", F.sqrt(_dot(F.col("qe"), F.col("qe"))))
    )
    c = (
        e.filter(F.col("vec_id") >= 5)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").cast("array<double>").alias("ce"),
        )
        .withColumn("cnorm", F.sqrt(_dot(F.col("ce"), F.col("ce"))))
    )
    rel = _dot(F.col("qe"), F.col("ce")) / (F.col("qnorm") * F.col("cnorm"))
    cand = (
        c.join(F.broadcast(q))
        .select("cid", "ce", "cnorm", F.round(rel, 6).alias("rel"))
        # global top-20 as orderBy+limit -> TakeOrderedAndProject
        # (distributed per-partition top-k), NOT a row_number window,
        # which would funnel the whole corpus through one partition
        .orderBy(F.col("rel").desc(), "cid")
        .limit(_MMR_POOL)
        # 20 rows; k iterations never rescan. eager=True is load-bearing
        # (measured r18): lazy checkpoints of the greedy chain re-enter
        # adaptive execution per reference at action time and the key
        # regressed 2.7 s -> 11.3 s in the sweep; construction-time
        # materialization is the documented plan_audit exception.
        .localCheckpoint(eager=True)
    )
    sim = _dot(F.col("ce"), F.col("ce2")) / (F.col("cnorm") * F.col("cnorm2"))
    b = cand.select(
        F.col("cid").alias("pb"),
        F.col("ce").alias("ce2"),
        F.col("cnorm").alias("cnorm2"),
    )
    pairs = (
        cand.select(F.col("cid").alias("pa"), "ce", "cnorm")
        .join(b, F.col("pa") != F.col("pb"))
        .select("pa", "pb", F.round(sim, 6).alias("sim"))
        # pool² = 380 rows; materialized once so the k-1 rounds below
        # don't re-run the pairwise-sim join per round (r17)
        .localCheckpoint(eager=True)
    )
    lam, om = F.lit(_MMR_LAMBDA), F.lit(_MMR_OMEGA)
    # Each pick is localCheckpoint-truncated (it is ONE row): without
    # this, pick r's lazy plan embeds every previous pick's whole subtree
    # (sel_ids is a union of them), so the final union re-executes pick 1
    # k-1 times, pick 2 k-2 times, ... — plan size and work grow
    # quadratically in k. Checkpointed, each round's joins run exactly
    # once and later rounds read k one-row materialized frames (r17;
    # measured 5.0 s → ~1.5 s at sf0.01, values identical). An
    # eager=False variant was tried and REVERTED in r18: deferring the
    # materialization re-enters adaptive execution per reference at
    # action time (sweep 2.7 s → 11.3 s measured) — the greedy chain
    # NEEDS each pick pinned down the moment it is defined.
    first = (
        cand.orderBy(F.col("rel").desc(), "cid")
        .limit(1)
        .select(
            F.lit(1).alias("mmr_rank"),
            "cid",
            "rel",
            (lam * F.col("rel")).alias("mmr"),
        )
        .localCheckpoint(eager=True)
    )
    picks = [first]
    sel_ids = first.select(F.col("cid").alias("scid"))
    for r in range(2, _MMR_K + 1):
        pairs_sel = pairs.join(
            sel_ids, pairs.pb == sel_ids.scid, "left_semi"
        )
        pick = (
            cand.join(sel_ids, cand.cid == sel_ids.scid, "left_anti")
            .join(pairs_sel, F.col("cid") == F.col("pa"))
            .groupBy("cid", "rel")
            .agg(F.max("sim").alias("maxsim"))
            .select(
                F.lit(r).alias("mmr_rank"),
                "cid",
                "rel",
                (lam * F.col("rel") - om * F.col("maxsim")).alias("mmr"),
            )
            .orderBy(F.col("mmr").desc(), "cid")
            .limit(1)
            .localCheckpoint(eager=True)  # 1 row; see note above `first`
        )
        picks.append(pick)
        sel_ids = sel_ids.union(pick.select(F.col("cid").alias("scid")))
    out = picks[0]
    for p in picks[1:]:
        out = out.union(p)
    return out.select(
        F.col("mmr_rank").cast("long").alias("mmr_rank"),
        F.col("cid").cast("long").alias("doc_id"),
        "rel",
        (F.floor(F.col("mmr") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
            "mmr"
        ),
    )


_HN_POOL = 30  # per-query retrieval pool
_HN_K = 10  # hard negatives kept per query


@query(
    "mining_hard_negatives",
    oracle=f"""
    WITH planes AS (
        SELECT vec_id AS p_id, embedding::DOUBLE[] AS pe FROM embeddings
        WHERE vec_id BETWEEN 1 AND {_N_PLANES}
    ), buckets AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev,
               CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pe) > 0
                             THEN power(2, p.p_id - 1) ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id, e.embedding
    ), dup_pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.ev, b.ev) /
              (sqrt(list_dot_product(a.ev, a.ev)) *
               sqrt(list_dot_product(b.ev, b.ev))) >= 0.4
    ), q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qe, label AS qlabel
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce, label AS clabel
        FROM embeddings WHERE vec_id >= {_N_QUERIES}
    ), scored AS (
        SELECT qid, cid, qlabel, clabel,
               round(list_dot_product(qe, ce) /
                     (sqrt(list_dot_product(qe, qe)) *
                      sqrt(list_dot_product(ce, ce))), 6) AS cos_sim
        FROM q CROSS JOIN c
    ), pool AS (
        SELECT qid, cid, qlabel, clabel, cos_sim FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
                                         ORDER BY cos_sim DESC, cid) AS rn
            FROM scored)
        WHERE rn <= {_HN_POOL}
    ), neg AS (
        SELECT qid, cid, cos_sim FROM pool p
        WHERE p.clabel <> p.qlabel
          AND NOT EXISTS (SELECT 1 FROM dup_pairs d
                          WHERE d.id_a = p.qid AND d.id_b = p.cid)
    )
    SELECT qid, cid, cos_sim, CAST(rn AS BIGINT) AS neg_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, cid) AS rn
          FROM neg)
    WHERE rn <= {_HN_K}
    """,
)
def mining_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: per query
    (vec_id < 5) the top-30 cosine candidates, MINUS potential FALSE
    negatives — (a) candidates sharing the query's `label` (potential
    positives; this is the exclusion that bites on the fixture, ~10% of
    each pool) and (b) pairs the LSH-verified near-dup detector flags
    (`embedding_near_dup_pairs`, cos >= 0.4 among bucket-mates; on this
    fixture's random vectors no query-candidate pair reaches it — probed
    at sf0.01 AND sf0.1, both zero — so the anti-join is exercised as a
    plan but the label rule is what filters rows), reranked to the
    top-10 per query. This is the composition a training-data stack
    actually runs: retrieval gives "similar", positive/dup detection
    gives "too similar (false negative)", hard negatives are the
    difference.

    Scale: the pool comes from the broadcast-query corpus scan (the
    `ann_cosine_topk` plan, IVF-PQ at 100 TB); the dup-pair side is
    LSH-bucket-scoped, never all-pairs; the exclusion is a left-anti
    join on (qid, cid) — since qid < 5 (_N_QUERIES) <= cid, the dup
    table's (id_a < id_b) orientation makes the key exact. Anti-join
    shuffles only the two candidate lists, both already top-k-bounded
    per query."""
    e = load_table(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("qid"),
                F.col("embedding").cast("array<double>").alias("qe"),
                F.col("label").alias("qlabel"))
        .withColumn("qnorm", F.sqrt(_dot(F.col("qe"), F.col("qe"))))
    )
    c = (
        e.filter(F.col("vec_id") >= _N_QUERIES)
        .select(F.col("vec_id").alias("cid"),
                F.col("embedding").cast("array<double>").alias("ce"),
                F.col("label").alias("clabel"))
        .withColumn("cnorm", F.sqrt(_dot(F.col("ce"), F.col("ce"))))
    )
    cos = _dot(F.col("qe"), F.col("ce")) / (F.col("qnorm") * F.col("cnorm"))
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "cid")
    pool = (
        c.join(F.broadcast(q))
        .select("qid", "cid", "qlabel", "clabel", F.round(cos, 6).alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HN_POOL)
        .drop("rn")
    )
    dups = embedding_near_dup_pairs(spark, sf_dir).select("id_a", "id_b")
    neg = (
        pool.filter(F.col("clabel") != F.col("qlabel"))
        .join(
            dups,
            (pool.qid == dups.id_a) & (pool.cid == dups.id_b),
            "left_anti",
        )
        .drop("qlabel", "clabel")
    )
    return (
        neg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HN_K)
        .select("qid", "cid", "cos_sim", F.col("rn").cast("long").alias("neg_rank"))
    )


_EVAL_K = 10


@query(
    "retrieval_eval_metrics",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qe, label AS qlabel
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce, label AS clabel
        FROM embeddings WHERE vec_id >= {_N_QUERIES}
    ), scored AS (
        SELECT qid, qlabel, cid, clabel,
               round(list_dot_product(qe, ce) /
                     (sqrt(list_dot_product(qe, qe)) *
                      sqrt(list_dot_product(ce, ce))), 6) AS cos_sim
        FROM q CROSS JOIN c
    ), ranked AS (
        SELECT qid, qlabel, cid, clabel, cos_sim,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, cid) AS rnk
        FROM scored
    ), topk AS (
        SELECT * FROM ranked WHERE rnk <= {_EVAL_K}
    ), totals AS (
        SELECT qid, count(*) AS n_relevant
        FROM scored WHERE clabel = qlabel GROUP BY qid
    ), per_q AS (
        SELECT t.qid,
               sum(CASE WHEN t.clabel = t.qlabel THEN 1 ELSE 0 END) AS hits,
               max(CASE WHEN t.clabel = t.qlabel THEN 1.0 / t.rnk
                        ELSE 0.0 END) AS rr,
               sum(CASE WHEN t.clabel = t.qlabel
                        THEN 1.0 / (ln(t.rnk + 1) / ln(2)) ELSE 0.0 END)
                   AS dcg
        FROM topk t GROUP BY t.qid
    ), ideal AS (
        SELECT tt.qid,
               sum(1.0 / (ln(i.rnk + 1) / ln(2))) AS idcg
        FROM totals tt
        JOIN (SELECT CAST(range + 1 AS BIGINT) AS rnk
              FROM range({_EVAL_K})) i
          ON i.rnk <= least(tt.n_relevant, {_EVAL_K})
        GROUP BY tt.qid
    )
    SELECT p.qid,
           CAST(p.hits AS BIGINT) AS hits_at_k,
           CAST(tt.n_relevant AS BIGINT) AS n_relevant,
           floor(p.hits * 1.0 / least(tt.n_relevant, {_EVAL_K})
                 * 1000000 + 0.5) / 1000000 AS recall_at_k,
           floor(p.rr * 1000000 + 0.5) / 1000000 AS mrr,
           floor(p.dcg / i.idcg * 1000000 + 0.5) / 1000000 AS ndcg_at_k
    FROM per_q p JOIN totals tt ON p.qid = tt.qid
    JOIN ideal i ON p.qid = i.qid
    """,
)
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the exact cosine retriever against
    label ground truth (relevant = candidate shares the query's `label`):
    per query, hits@10, recall@10 (capped-ideal denominator min(R, k)),
    MRR (reciprocal rank of the first relevant hit inside the top-10; 0
    if none), and nDCG@10 with the standard 1/log2(rank+1) gains and the
    ideal DCG of min(R, k) relevant docs at ranks 1..min(R, k). This is
    the measurement harness every retrieval stack runs next to its
    index — the same join/window shapes as the retrievers themselves, so
    it scales exactly as they do (broadcast queries, per-qid windows over
    top-k-bounded lists; the totals side is one grouped count).

    Engine-identity notes: log2 spelled ln(x)/ln(2) on BOTH sides (Spark
    F.log2 and DuckDB log2 could round differently; the shared ln
    spelling folds identical doubles), ranks from 6dp-rounded cosines
    with cid tie-break, outputs floor-rounded at 6dp."""
    e = load_table(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("qid"),
                F.col("embedding").cast("array<double>").alias("qe"),
                F.col("label").alias("qlabel"))
        .withColumn("qnorm", F.sqrt(_dot(F.col("qe"), F.col("qe"))))
    )
    c = (
        e.filter(F.col("vec_id") >= _N_QUERIES)
        .select(F.col("vec_id").alias("cid"),
                F.col("embedding").cast("array<double>").alias("ce"),
                F.col("label").alias("clabel"))
        .withColumn("cnorm", F.sqrt(_dot(F.col("ce"), F.col("ce"))))
    )
    cos = _dot(F.col("qe"), F.col("ce")) / (F.col("qnorm") * F.col("cnorm"))
    scored = c.join(F.broadcast(q)).select(
        "qid", "qlabel", "cid", "clabel", F.round(cos, 6).alias("cos_sim")
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "cid")
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    topk = ranked.filter(F.col("rnk") <= _EVAL_K)
    rel = F.col("clabel") == F.col("qlabel")
    log2rank = F.log(F.col("rnk") + 1) / F.log(F.lit(2.0))
    per_q = topk.groupBy("qid").agg(
        F.sum(F.when(rel, 1).otherwise(0)).alias("hits"),
        F.max(F.when(rel, 1.0 / F.col("rnk")).otherwise(0.0)).alias("rr"),
        F.sum(F.when(rel, 1.0 / log2rank).otherwise(0.0)).alias("dcg"),
    )
    totals = (
        scored.filter(rel)
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_relevant"))
    )
    ranks = spark.range(_EVAL_K).select(
        (F.col("id") + 1).cast("long").alias("rnk")
    )
    log2i = F.log(F.col("rnk") + 1) / F.log(F.lit(2.0))
    ideal = (
        F.broadcast(totals)
        .join(ranks, ranks.rnk <= F.least(F.col("n_relevant"), F.lit(_EVAL_K)))
        .groupBy("qid")
        .agg(F.sum(1.0 / log2i).alias("idcg"))
    )
    r6 = lambda col: F.floor(col * 1_000_000 + F.lit(0.5)) / 1_000_000  # noqa: E731
    return (
        per_q.join(F.broadcast(totals), "qid")
        .join(F.broadcast(ideal), "qid")
        .select(
            "qid",
            F.col("hits").cast("long").alias("hits_at_k"),
            F.col("n_relevant").cast("long").alias("n_relevant"),
            r6(F.col("hits") * F.lit(1.0)
               / F.least(F.col("n_relevant"), F.lit(_EVAL_K))).alias(
                "recall_at_k"
            ),
            r6(F.col("rr")).alias("mrr"),
            r6(F.col("dcg") / F.col("idcg")).alias("ndcg_at_k"),
        )
    )


_PCA_DIM = 64
_PCA_ITERS = 3


@query(
    "embedding_pca_power_iteration",
    oracle=f"""
    WITH p AS (
        SELECT embedding::DOUBLE[] AS ev FROM embeddings
    ), v0 AS (
        SELECT list_transform(generate_series(1, {_PCA_DIM}),
                              x -> 0.125) AS v
    ), w1 AS (
        SELECT list(s ORDER BY j) AS w FROM (
            SELECT j, sum(list_dot_product(p.ev, v0.v) * p.ev[j]) AS s
            FROM p, v0, generate_series(1, {_PCA_DIM}) AS g(j)
            GROUP BY j)
    ), v1 AS (
        SELECT list_transform(w, x -> x / sqrt(list_dot_product(w, w)))
          AS v FROM w1
    ), w2 AS (
        SELECT list(s ORDER BY j) AS w FROM (
            SELECT j, sum(list_dot_product(p.ev, v1.v) * p.ev[j]) AS s
            FROM p, v1, generate_series(1, {_PCA_DIM}) AS g(j)
            GROUP BY j)
    ), v2 AS (
        SELECT list_transform(w, x -> x / sqrt(list_dot_product(w, w)))
          AS v FROM w2
    ), w3 AS (
        SELECT list(s ORDER BY j) AS w FROM (
            SELECT j, sum(list_dot_product(p.ev, v2.v) * p.ev[j]) AS s
            FROM p, v2, generate_series(1, {_PCA_DIM}) AS g(j)
            GROUP BY j)
    ), fin AS (
        SELECT list_transform(w, x -> x / sqrt(list_dot_product(w, w)))
                 AS v,
               sqrt(list_dot_product(w, w)) AS lam
        FROM w3
    )
    SELECT CAST(j AS INTEGER) AS component,
           round(v[j], 4) + 0.0 AS loading,
           round(lam, 2) AS eigenvalue_est
    FROM fin, generate_series(1, {_PCA_DIM}) AS g(j)
    """,
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by THREE
    matrix-free power-iteration steps — w ← Σᵢ (xᵢ·v)·xᵢ, v ← w/‖w‖ —
    entirely in DataFrames: the iterate is a ONE-ROW broadcast frame,
    the corpus is never collected and never leaves the executors (the
    kmeans-iteration posture, with the model being a 64-vector instead
    of 8 centroids). The leading component is the spine of embedding
    hygiene: mean-direction drift, anisotropy scoring, and the
    all-but-the-top-k-components whitening trick all start from this
    query's output.

    Determinism: v₀ = 1/8 exactly (d=64 ⇒ 1/√d is a power of two —
    chosen so the starting vector is bit-identical on both engines with
    no sqrt in sight); per-row dots are sequential folds (``_dot`` ≡
    DuckDB list_dot_product order); the per-component corpus sums are
    FP with engine-specific accumulation order, but the iteration is
    CONTINUOUS (no argmin/branch for a ULP to flip — unlike kmeans, no
    round-before-compare needed) so the ~1e-13 relative drift just
    rides through the normalizations and the final 4dp/2dp rounding
    absorbs it. `+ 0.0` canonicalizes -0.0 loadings.

    Scale shape per iteration: broadcast the 1-row iterate, one
    map-side dot per row, posexplode ×64, ONE map-combinable
    groupBy(component) fold to 64 rows, re-assemble via sort_array of
    (j, s) structs (collect_list alone is order-nondeterministic).
    Three iterations = three corpus scans (at 100 TB: cache the corpus
    or fuse iterations into mapPartitions batches); everything else is
    64-row arithmetic."""
    e = load_table(spark, sf_dir, "embeddings")
    pts = e.select(F.col("embedding").cast("array<double>").alias("ev"))

    v = spark.range(1).select(
        F.transform(
            F.sequence(F.lit(1), F.lit(_PCA_DIM)), lambda _: F.lit(0.125)
        ).alias("v")
    )
    for _ in range(_PCA_ITERS):
        dots = pts.crossJoin(F.broadcast(v)).select(
            _dot(F.col("ev"), F.col("v")).alias("dv"), "ev"
        )
        comp = (
            dots.select(F.posexplode("ev").alias("j", "x"), "dv")
            .groupBy("j")
            .agg(F.sum(F.col("dv") * F.col("x")).alias("s"))
        )
        w = comp.agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("j", "s"))),
                lambda t: t.s,
            ).alias("w")
        )
        v = w.select(
            F.transform(
                F.col("w"),
                lambda x: x / F.sqrt(_dot(F.col("w"), F.col("w"))),
            ).alias("v"),
            F.sqrt(_dot(F.col("w"), F.col("w"))).alias("lam"),
        )
    return v.select(
        F.posexplode("v").alias("j0", "loading_raw"), F.col("lam")
    ).select(
        (F.col("j0") + 1).cast("int").alias("component"),
        (F.round(F.col("loading_raw"), 4) + 0.0).alias("loading"),
        F.round(F.col("lam"), 2).alias("eigenvalue_est"),
    )


@query(
    "embedding_threshold_sweep",
    oracle=f"""
    WITH planes AS (
        SELECT vec_id AS p_id, embedding::DOUBLE[] AS pe FROM embeddings
        WHERE vec_id BETWEEN 1 AND {_N_PLANES}
    ), buckets AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev,
               CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[],
                                                   p.pe) > 0
                             THEN power(2, p.p_id - 1) ELSE 0 END)
                    AS BIGINT) AS bucket
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id, e.embedding
    ), cand AS (
        SELECT round(list_dot_product(a.ev, b.ev) /
                     (sqrt(list_dot_product(a.ev, a.ev)) *
                      sqrt(list_dot_product(b.ev, b.ev))), 6) AS cos_sim
        FROM buckets a JOIN buckets b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT t.threshold_pct,
           CAST(count(*) FILTER (WHERE cos_sim >= t.threshold_pct / 100.0)
                AS BIGINT) AS n_pairs
    FROM cand CROSS JOIN
         (SELECT unnest([40, 60, 80, 90]) AS threshold_pct) t
    GROUP BY t.threshold_pct
    """,
)
def embedding_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate operating-point calibration: how many
    bucket-verified pair candidates survive at cosine >= 0.40 / 0.60 /
    0.80 / 0.90 — the table an operator reads BEFORE committing a
    semantic-dedup threshold (too low deletes paraphrases, too high
    keeps mirrors; the elbow in this sweep is the decision). ONE pass
    over the LSH candidate pairs computes the cosine once and folds all
    four thresholds as conditional counts — never one candidate-join
    per operating point, which is how threshold tuning accidentally
    goes quadratic-times-K at 100 TB.

    Candidates are hyperplane-bucket-scoped (embedding_near_dup_pairs'
    discipline — the sweep measures the same candidate stream the
    production dedup would verify, so its counts are the true operating
    characteristics of THAT pipeline, not of an all-pairs fantasy).
    Cosines are rounded 6dp BEFORE thresholding on both engines so a
    boundary ULP cannot move a pair between buckets; thresholds are
    integer percent keys."""
    buckets = ann_lsh_buckets(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )
    be = buckets.join(e, "vec_id").withColumn(
        "nrm", F.sqrt(_dot(F.col("ev"), F.col("ev")))
    )
    a = be.select(
        F.col("vec_id").alias("id_a"),
        "bucket",
        F.col("ev").alias("ev_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = be.select(
        F.col("vec_id").alias("id_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("ev").alias("ev_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cand = (
        a.join(b, (F.col("bucket") == F.col("bucket_b")))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.round(
                _dot(F.col("ev_a"), F.col("ev_b"))
                / (F.col("nrm_a") * F.col("nrm_b")),
                6,
            ).alias("cos_sim")
        )
    )
    th = spark.range(1).select(
        F.explode(F.array(F.lit(40), F.lit(60), F.lit(80), F.lit(90))).alias(
            "threshold_pct"
        )
    )
    return (
        cand.crossJoin(F.broadcast(th))
        .groupBy("threshold_pct")
        .agg(
            F.count(
                F.when(
                    F.col("cos_sim") >= F.col("threshold_pct") / 100.0, 1
                )
            )
            .cast("long")
            .alias("n_pairs")
        )
    )


@query(
    "embedding_matryoshka_truncation",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings
        WHERE vec_id < {_N_QUERIES}
    ), c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings
        WHERE vec_id >= {_N_QUERIES}
    ), top_full AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (
                       PARTITION BY qid
                       ORDER BY round(list_dot_product(qe, ce) /
                             (sqrt(list_dot_product(qe, qe))
                              * sqrt(list_dot_product(ce, ce))), 6) DESC,
                           cid) AS rn
            FROM q CROSS JOIN c)
        WHERE rn <= {_TOP_K}
    ), top_tr AS (
        SELECT d, qid, cid FROM (
            SELECT d, qid, cid,
                   row_number() OVER (
                       PARTITION BY d, qid
                       ORDER BY round(
                             list_dot_product(qe[1:d], ce[1:d]) /
                             (sqrt(list_dot_product(qe[1:d], qe[1:d]))
                              * sqrt(list_dot_product(ce[1:d], ce[1:d]))),
                             6) DESC,
                           cid) AS rn
            FROM q
            CROSS JOIN c
            CROSS JOIN (SELECT unnest([8, 16, 32]) AS d))
        WHERE rn <= {_TOP_K}
    )
    SELECT t.d AS dim, t.qid,
           CAST(count(f.cid) AS BIGINT) AS overlap_at_10
    FROM top_tr t
    LEFT JOIN top_full f ON t.qid = f.qid AND t.cid = f.cid
    GROUP BY t.d, t.qid
    """,
)
def embedding_matryoshka_truncation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-style truncation quality: how much of the exact
    full-dimension cosine top-10 survives when vectors are cut to their
    first 8 / 16 / 32 of 64 components — the measurement behind
    Matryoshka Representation Learning deployments (truncate stored
    vectors D/8x to cut index memory, IF the prefix preserves ranking;
    this emits the per-query overlap@10 evidence instead of assuming).
    The dimension ladder complements the precision ladder
    (BASELINE.md int8 row: int4/8/16 QUANTIZATION at full dim; here
    full precision at reduced dim — the two axes a vector-store
    capacity plan trades between).

    Determinism discipline is ann_cosine_topk's: double arithmetic,
    sequential-fold dot products matching DuckDB's list_dot_product
    evaluation order, 6dp round BEFORE ranking, ties by candidate id.
    Scale shape: the query side (Q x 3 dims) broadcasts; the corpus
    never shuffles — same single-scan plan as exact cosine, 3x the
    row work in one codegen pipeline. On the fixture the prefix is NOT
    trained to be information-dense (synthetic embeddings), so measured
    overlap quantifies truncation of an UNTRAINED layout — the honest
    baseline a Matryoshka-trained encoder must beat."""
    e = load_table(spark, sf_dir, "embeddings")
    q = _emb(e.filter(F.col("vec_id") < _N_QUERIES), "qid", "qe").drop(
        "label"
    )
    c = _emb(e.filter(F.col("vec_id") >= _N_QUERIES), "cid", "ce").drop(
        "label"
    )
    cos_full = F.round(
        _dot(F.col("qe"), F.col("ce"))
        / (
            F.sqrt(_dot(F.col("qe"), F.col("qe")))
            * F.sqrt(_dot(F.col("ce"), F.col("ce")))
        ),
        6,
    )
    top_full = (
        q.crossJoin(c)
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(cos_full.desc(), "cid")
            ),
        )
        .filter(F.col("rn") <= _TOP_K)
        .select("qid", "cid")
    )
    qs = F.slice(F.col("qe"), 1, F.col("d"))
    cs = F.slice(F.col("ce"), 1, F.col("d"))
    cos_tr = F.round(
        _dot(qs, cs) / (F.sqrt(_dot(qs, qs)) * F.sqrt(_dot(cs, cs))), 6
    )
    top_tr = (
        q.crossJoin(c)
        .crossJoin(
            spark.range(1).select(
                F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("d")
            )
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("d", "qid").orderBy(cos_tr.desc(), "cid")
            ),
        )
        .filter(F.col("rn") <= _TOP_K)
        .select("d", "qid", "cid")
    )
    f = top_full.withColumnRenamed("cid", "fcid")
    return (
        top_tr.join(
            f,
            (top_tr.qid == f.qid) & (top_tr.cid == F.col("fcid")),
            "left",
        )
        .groupBy(F.col("d").alias("dim"), top_tr.qid)
        .agg(F.count("fcid").cast("long").alias("overlap_at_10"))
    )


@query(
    "embedding_centroid_drift",
    oracle=f"""
    WITH halves AS (
        SELECT label,
               CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS half,
               embedding::DOUBLE[] AS e
        FROM embeddings
        WHERE vec_id >= {_N_QUERIES}
    ), dims AS (
        SELECT label, half, d.i AS dim, e[d.i] AS v
        FROM halves
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) d
    ), cent AS (
        SELECT label, half, dim, avg(v) AS c,
               CAST(count(*) AS BIGINT) AS n
        FROM dims GROUP BY label, half, dim
    ), paired AS (
        SELECT a.label, a.dim, a.c AS ca, b.c AS cb,
               a.n AS n_a, b.n AS n_b
        FROM cent a JOIN cent b
          ON a.label = b.label AND a.dim = b.dim
         AND a.half = 'a' AND b.half = 'b'
    )
    SELECT label,
           max(n_a) AS n_a, max(n_b) AS n_b,
           round(sqrt(sum((ca - cb) * (ca - cb))), 6) AS centroid_l2_shift
    FROM paired
    GROUP BY label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per label, the L2 distance between the
    class centroid computed on one half of the corpus (even vec_ids —
    the 'reference window') and the other (odd — the 'current window').
    This is the canonical embedding-pipeline health check: an encoder
    redeploy, a preprocessing change, or upstream data drift moves
    class centroids, and the per-label shift table is the alarm that
    fires before downstream ANN recall quietly decays. Deterministic
    split by vec_id parity stands in for the time axis the production
    version windows on.

    Shape: explode to (label, half, dim, value) — map-only — then ONE
    grouped avg per (label, half, dim) cell (map-combinable; the 64-dim
    x labels x 2 cell table is tiny), a self-join of the two halves on
    (label, dim), and a 64-term fold per label for the L2. Per-cell
    avg sums ~250 O(1) doubles (fold drift ~1e-14, ten+ orders under
    the 6dp round); the explode avoids any array-level float fold
    ordering question entirely."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") >= _N_QUERIES
    )
    halves = e.select(
        "label",
        F.when(F.col("vec_id") % 2 == 0, "a").otherwise("b").alias("half"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    dims = halves.select(
        "label",
        "half",
        F.posexplode("e").alias("d0", "v"),
    ).select("label", "half", (F.col("d0") + 1).alias("dim"), "v")
    cent = dims.groupBy("label", "half", "dim").agg(
        F.avg("v").alias("c"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a = cent.filter(F.col("half") == "a").select(
        "label", "dim", F.col("c").alias("ca"), F.col("n").alias("n_a")
    )
    b = cent.filter(F.col("half") == "b").select(
        "label", "dim", F.col("c").alias("cb"), F.col("n").alias("n_b")
    )
    paired = a.join(b, ["label", "dim"])
    return paired.groupBy("label").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.round(
            F.sqrt(
                F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            ),
            6,
        ).alias("centroid_l2_shift"),
    )


@query(
    "embedding_outlier_mahalanobis",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e
        FROM embeddings WHERE vec_id >= {_N_QUERIES}
    ), dims AS (
        SELECT vec_id, label, d.i AS dim, e[d.i] AS v
        FROM c CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) d
    ), stats AS (
        SELECT dim, avg(v) AS m,
               sum(v * v) / count(*) - avg(v) * avg(v) AS var
        FROM dims GROUP BY dim
    ), scored AS (
        SELECT vec_id, label,
               sum((v - m) * (v - m) / nullif(var, 0)) AS d2
        FROM dims JOIN stats USING (dim)
        GROUP BY vec_id, label
    )
    SELECT vec_id, label, round(d2, 6) AS mahalanobis_sq
    FROM scored
    ORDER BY round(d2, 6) DESC, vec_id
    LIMIT 20
    """,
)
def embedding_outlier_mahalanobis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding outlier detection via DIAGONAL Mahalanobis distance:
    per-dimension corpus mean/variance, each vector scored
    sum_d (v_d - m_d)^2 / var_d, top-20 by score — the screening pass
    that catches corrupted vectors, wrong-encoder batches, and truncated
    embeddings BEFORE they poison an ANN index (the full-covariance
    version needs a 64x64 inverse; the diagonal approximation is the
    standard first line because it stays a pure aggregate). Complements
    embedding_norm_stats (norm outliers) and embedding_centroid_drift
    (population shift): this one names the individual offenders.

    Shape: one explode -> one per-dim stats aggregate (64 rows,
    broadcast back by the dim join) -> one per-vector fold -> global
    top-20 (TakeOrderedAndProject). Population variance computed as
    E[v^2] - m^2 from O(1)-magnitude doubles (no large-term
    cancellation — the components are unit-scale), score rounded 6dp
    BEFORE ranking with vec_id tie-break so the cutoff is stable."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") >= _N_QUERIES
    )
    dims = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "d0", "v"
        ),
    ).select("vec_id", "label", (F.col("d0") + 1).alias("dim"), "v")
    stats = dims.groupBy("dim").agg(
        F.avg("v").alias("m"),
        (
            F.sum(F.col("v") * F.col("v")) / F.count(F.lit(1))
            - F.avg("v") * F.avg("v")
        ).alias("var"),
    )
    scored = (
        dims.join(F.broadcast(stats), "dim")
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                (F.col("v") - F.col("m"))
                * (F.col("v") - F.col("m"))
                / F.nullif(F.col("var"), F.lit(0.0))
            ).alias("d2")
        )
    )
    return (
        scored.select(
            "vec_id", "label", F.round("d2", 6).alias("mahalanobis_sq")
        )
        .orderBy(F.col("mahalanobis_sq").desc(), "vec_id")
        .limit(20)
    )


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 JL projection matrix (16×64): sign(k,j) from
    md5("k#j") parity — the arithmetic-hash derandomization both the
    Spark side and the oracle embed as the SAME literal."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{k}#{j}".encode()).hexdigest()[:4], 16) % 2
            == 0
            else -1
            for j in range(64)
        ]
        for k in range(16)
    ]


_JL_SIGNS = _jl_signs()
_JL_SIGNS_SQL = (
    "["
    + ",".join(
        "[" + ",".join(str(v) for v in row) + "]" for row in _JL_SIGNS
    )
    + "]"
)
_JL_SAMPLE = 128  # hash-sampled audit vectors (fixed at ANY corpus size)


@query(
    "embedding_jl_projection",
    oracle=f"""
    -- The sign matrix is hoisted into a one-row CTE instead of being an
    -- inline literal inside the lambda: DuckDB re-materializes an inline
    -- 16x64 nested-list literal on EVERY [k][j] access (measured r17:
    -- 64 s for 128 rows at sf0.01; hoisted, 0.1 s — values bit-identical,
    -- the fold order and element expressions are unchanged).
    WITH m AS (SELECT {_JL_SIGNS_SQL} AS mm
    ), sampled AS (
        SELECT vec_id, embedding::DOUBLE[] AS e
        FROM embeddings
        ORDER BY (vec_id * 2654435761) % 1048576, vec_id
        LIMIT {_JL_SAMPLE}
    ), proj AS (
        SELECT vec_id, e,
               list_transform(generate_series(1, 16),
                   k -> list_reduce(
                       list_transform(generate_series(1, 64),
                           j -> e[j] * mm[k][j]
                                * CAST(0.25 AS DOUBLE)),
                       (a, b) -> a + b)) AS y
        FROM sampled, m
    ), pairs AS (
        SELECT list_reduce(list_transform(generate_series(1, 64),
                   j -> (a.e[j] - b.e[j]) * (a.e[j] - b.e[j])),
                   (x, y2) -> x + y2) AS d2o,
               list_reduce(list_transform(generate_series(1, 16),
                   k -> (a.y[k] - b.y[k]) * (a.y[k] - b.y[k])),
                   (x, y2) -> x + y2) AS d2p
        FROM proj a JOIN proj b ON a.vec_id < b.vec_id
    ), ratios AS (
        SELECT d2p / d2o AS r FROM pairs WHERE d2o > 0
    ), folded AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               list_reduce(list_sort(list(r)), (a, b) -> a + b) AS sr,
               min(r) AS mn, max(r) AS mx,
               CAST(count(CASE WHEN r >= 0.49 AND r <= 1.69 THEN 1 END)
                    AS BIGINT) AS n_within_eps
        FROM ratios
    )
    SELECT n_pairs,
           round(sr / nullif(n_pairs, 0), 6) AS mean_ratio,
           round(mn, 6) AS min_ratio,
           round(mx, 6) AS max_ratio,
           n_within_eps
    FROM folded
    """,
)
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (64-d → 16-d, Achlioptas
    ±1 matrix scaled 1/√16) with a DISTORTION AUDIT — the dimension-
    reduction step an embedding pipeline runs before ANN indexing or
    near-dup cosine to cut vector bytes 4×, and the audit that tells
    you whether ε held: squared-distance ratio d²_proj/d²_orig over
    all pairs of a hash-sampled 128-vector frame (TakeOrdered on an
    arithmetic hash — the audit is 8128 pairs at ANY corpus size,
    scale-invariant by construction). Measured: mean ratio 1.0143
    (sf0.01) / 1.0473 (sf0.1) — the unbiasedness JL promises — with
    ~93% of pairs inside the ε=0.3 band (ratio ∈ [0.49, 1.69]);
    k = 16 is deliberately below the 8/ε²·ln n ≈ 430 the lemma wants,
    so the tail is VISIBLE (min 0.115, max 2.60) — the audit earns
    its keep.

    Determinism: the ±1 matrix is an md5-parity literal embedded
    identically on both sides; projections and per-pair distances are
    fixed-order HOF folds (scalar accumulators — safe per the
    events_holt_smoothing fork note); the mean folds a SORTED ratio
    list, so even the final reduction is order-pinned — every double
    on both engines runs the same IEEE sequence.

    Scale shape: the projection itself is a map-side expression any
    corpus-wide pipeline applies in-scan; only the AUDIT pairs the
    fixed 128-vector sample (TakeOrderedAndProject + one 8128-row
    broadcast self-join). Nothing here is corpus-quadratic."""
    emb = load_table(spark, sf_dir, "embeddings")
    sampled = (
        emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("e"),
        )
        .orderBy((F.col("vec_id") * 2654435761) % 1048576, "vec_id")
        .limit(_JL_SAMPLE)
    )
    # One Literal node holding the whole 16x64 matrix, NOT F.array of
    # 1024 F.lit leaves: Catalyst folds/walks each node of the nested
    # CreateArray tree, which cost ~4 s of driver analysis plus ~2 s of
    # execution at ANY data size (measured r17; single literal: 1.2 s
    # total, values bit-identical — 0.25·±1 is exact in binary either
    # way).
    signs_col = F.lit([[float(v) * 0.25 for v in row] for row in _JL_SIGNS])
    proj = sampled.select(
        "vec_id",
        "e",
        F.transform(
            signs_col,
            lambda srow: F.aggregate(
                F.zip_with(F.col("e"), srow, lambda x, s: x * s),
                F.lit(0.0),
                lambda a, b: a + b,
            ),
        ).alias("y"),
    )
    from presto_truffle_spark.cache import scoped_persist

    proj = scoped_persist(spark, "emb.jl.proj", proj)
    a = proj.select(
        F.col("vec_id").alias("va"),
        F.col("e").alias("ea"),
        F.col("y").alias("ya"),
    )
    b = proj.select(
        F.col("vec_id").alias("vb"),
        F.col("e").alias("eb"),
        F.col("y").alias("yb"),
    )
    sqdist = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda x, y2: (x - y2) * (x - y2)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    pairs = a.join(F.broadcast(b), F.col("va") < F.col("vb")).select(
        sqdist(F.col("ea"), F.col("eb")).alias("d2o"),
        sqdist(F.col("ya"), F.col("yb")).alias("d2p"),
    )
    ratios = pairs.filter(F.col("d2o") > 0).select(
        (F.col("d2p") / F.col("d2o")).alias("r")
    )
    folded = ratios.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.aggregate(
            F.sort_array(F.collect_list("r")),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias("sr"),
        F.min("r").alias("mn"),
        F.max("r").alias("mx"),
        F.count(
            F.when((F.col("r") >= 0.49) & (F.col("r") <= 1.69), 1)
        )
        .cast("long")
        .alias("n_within_eps"),
    )
    return folded.select(
        "n_pairs",
        F.round(
            F.col("sr")
            / F.nullif(F.col("n_pairs") * F.lit(1.0), F.lit(0.0)),
            6,
        ).alias("mean_ratio"),
        F.round("mn", 6).alias("min_ratio"),
        F.round("mx", 6).alias("max_ratio"),
        "n_within_eps",
    )


@query(
    "eval_cluster_ari",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings
        WHERE vec_id BETWEEN 10 AND {10 + _N_CENTROIDS - 1}
    ), ranked AS (
        SELECT e.vec_id, e.label, c.c_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   round(list_dot_product(e.embedding::DOUBLE[], c.ce) /
                         (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                e.embedding::DOUBLE[])) *
                          sqrt(list_dot_product(c.ce, c.ce))), 6) DESC,
                   c.c_id) AS rn
        FROM embeddings e CROSS JOIN cent c
    ), cont AS (
        SELECT c_id, label, CAST(count(*) AS BIGINT) AS nij
        FROM ranked WHERE rn = 1 GROUP BY 1, 2
    ), ai AS (
        SELECT c_id, CAST(sum(nij) AS BIGINT) AS a FROM cont GROUP BY 1
    ), bj AS (
        SELECT label, CAST(sum(nij) AS BIGINT) AS b FROM cont GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(nij) AS BIGINT) AS n FROM cont
    ), s AS (
        SELECT CAST(sum((nij * (nij - 1)) // 2) AS BIGINT) AS sij,
               CAST(count(*) AS BIGINT) AS n_cells
        FROM cont
    ), pur AS (
        SELECT CAST(sum(mx) AS BIGINT) AS hits
        FROM (SELECT c_id, max(nij) AS mx FROM cont GROUP BY 1)
    ), sa AS (
        SELECT CAST(sum((a * (a - 1)) // 2) AS BIGINT) AS sa,
               CAST(count(*) AS BIGINT) AS k FROM ai
    ), sb AS (
        SELECT CAST(sum((b * (b - 1)) // 2) AS BIGINT) AS sb,
               CAST(count(*) AS BIGINT) AS l FROM bj
    )
    SELECT tot.n AS n_vectors, sa.k AS n_clusters, sb.l AS n_labels,
           s.n_cells,
           round(pur.hits * 1.0 / nullif(tot.n, 0), 6) AS purity,
           round((s.sij - sa.sa * 1.0 * sb.sb
                      / nullif(tot.n * (tot.n - 1.0) / 2, 0))
                 / nullif((sa.sa + sb.sb) / 2.0 - sa.sa * 1.0 * sb.sb
                      / nullif(tot.n * (tot.n - 1.0) / 2, 0), 0), 6)
               AS ari
    FROM tot CROSS JOIN s CROSS JOIN sa CROSS JOIN sb CROSS JOIN pur
    """,
)
def eval_cluster_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-evaluation metrics — Adjusted Rand Index (Hubert &
    Arabie '85) and purity of the IVF cell assignment against the
    fixture's ground-truth ``label``: the audit a pipeline runs on any
    unsupervised grouping it is about to USE (IVF cells for ANN
    routing, dedup clusters, topic buckets) — 'does my partitioning
    recover the known structure, beyond chance?'. Completes the
    association family: chi²/Cramér test dependence, MI measures it in
    nats, ARI scores PARTITION AGREEMENT on the pair-counting scale
    where 0 = chance and 1 = identical up to relabeling.

    Assignment is the registered IVF discipline verbatim (pinned
    data-derived centroids, 6dp-rounded cosine, c_id tie-break —
    ann_ivf_topk's cross-engine contract). Every ARI ingredient is an
    EXACT INTEGER off the K×|labels| contingency grid (Σ C(n_ij,2),
    Σ C(a_i,2), Σ C(b_j,2) — products of consecutive ints, // 2 exact);
    the only doubles are the final expected-index ratio and two
    divisions, identical spellings, 6dp. Purity = Σ_i max_j n_ij / n,
    integer argmax.

    Fixture honesty: the driver's embeddings are isotropic, so ARI ≈ 0
    — measured and WANTED (the metric correctly reports no structure;
    the labels are unrecoverable from geometry there). On the rich
    clustered fixture (sources/rich_fixture.py) the same op reads the
    recovered mixture: BASELINE.md r12 records the pair.

    Scale shape: one broadcast-centroid assignment pass (the corpus
    never shuffles for it), one grid fold; everything downstream is
    K×|labels|-bounded."""
    ev = _vectors(spark, sf_dir, "label")
    assign = _cell_rank(ev, _centroids(ev), "label").filter(F.col("rn") == 1)
    cont = assign.groupBy("c_id", "label").agg(
        F.count(F.lit(1)).cast("long").alias("nij")
    )
    from presto_truffle_spark.cache import scoped_persist

    cont = scoped_persist(spark, "sim.ari.cont", cont)
    ai = cont.groupBy("c_id").agg(F.sum("nij").cast("long").alias("a"))
    bj = cont.groupBy("label").agg(F.sum("nij").cast("long").alias("b"))
    tot = cont.agg(F.sum("nij").cast("long").alias("n"))
    s = cont.agg(
        F.sum(F.expr("(nij * (nij - 1)) DIV 2")).cast("long").alias("sij"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    pur = (
        cont.groupBy("c_id")
        .agg(F.max("nij").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("hits"))
    )
    sa = ai.agg(
        F.sum(F.expr("(a * (a - 1)) DIV 2")).cast("long").alias("sa"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    sb = bj.agg(
        F.sum(F.expr("(b * (b - 1)) DIV 2")).cast("long").alias("sb"),
        F.count(F.lit(1)).cast("long").alias("l"),
    )
    cn2 = F.nullif(
        F.col("n") * (F.col("n") - F.lit(1.0)) / 2, F.lit(0.0)
    )
    exp_idx = F.col("sa") * 1.0 * F.col("sb") / cn2
    ari = (F.col("sij") - exp_idx) / F.nullif(
        (F.col("sa") + F.col("sb")) / F.lit(2.0) - exp_idx, F.lit(0.0)
    )
    return (
        tot.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(pur))
        .select(
            F.col("n").alias("n_vectors"),
            F.col("k").alias("n_clusters"),
            F.col("l").alias("n_labels"),
            "n_cells",
            F.round(
                F.col("hits") * 1.0
                / F.nullif(F.col("n") * F.lit(1.0), F.lit(0.0)),
                6,
            ).alias("purity"),
            F.round(ari, 6).alias("ari"),
        )
    )
