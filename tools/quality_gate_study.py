"""Measured decision quality of the corpus quality gates (VERDICT r12 #1).

The rich fixture's generator draws every doc's text from a LATENT
quality tier (0/1/2 = 5/20/45% of Markov links broken);
``rich_fixture.document_quality_labels`` re-derives that tier from the
same hash stream, giving per-doc ground truth. This study measures how
well each quality gate's DECISION recovers the tier — the
precision/recall treatment the dedup stack got in r12 — rather than
just whether the gate's values hash-match an oracle:

  * ``corpus_ccnet_quality_buckets`` (the registered op — JM
    BIGRAM-scored since r14, promoted per VERDICT r13 #1 after this
    study measured 0.74–0.84 head/tail precision for the bigram vs
    0.43/0.44 for the r4–r13 unigram scorer): head/middle/tail × tier
    confusion, head→tier0 and tail→tier2 precision + lift.
  * The RETIRED unigram scorer, kept STUDY-SIDE (float replica) so
    the measured order-delta stays visible round over round.
  * A float bigram twin with EXACT-percentile tertiles — cross-checks
    that the registered op's integer micro-nat + bucketed-rank-grid
    discipline does not cost decision quality vs the float ideal.
  * ``corpus_quality_calibrated`` (TTR ≥ per-source median): kept-rate
    per tier. On this fixture TTR does NOT separate tiers (noise
    redraws tokens from the same Zipf head, so lexical diversity
    barely moves) — recorded honestly as a negative result.
  * ``text_quality_score``: was DEGENERATE on the rich fixture through
    r13 (w### tokens contain no English stopwords, so every doc failed
    the stopword band). r14 (VERDICT r13 #6): the gate's stopword set
    is now the corpus's own top-K frequency head, non-degenerate on
    both fixtures; n_passing is reported and sanity-checked in
    tests/test_quality_gate_pin.py.

Everything is hash-deterministic (seed 12) and tertile thresholds use
EXACT percentiles, so the numbers are replays, not samples.

Usage: python tools/quality_gate_study.py [n_docs] [seed]
Prints one JSON line. Defaults: 2000 docs, seed 12.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def materialize_labeled_fixture(spark, out: str, n_docs: int, seed: int):
    """Single-file documents.parquet + the label DataFrame (not written:
    labels join in-memory so the fixture dir stays driver-schema pure)."""
    import pyarrow.parquet as pq

    from presto_truffle_spark.sources.rich_fixture import (
        document_quality_labels,
        zipf_documents,
    )

    os.makedirs(out, exist_ok=True)
    pq.write_table(
        zipf_documents(spark, n_docs, seed=seed).toArrow(),
        os.path.join(out, "documents.parquet"),
    )
    return document_quality_labels(spark, n_docs, seed=seed)


def confusion(df, bucket_col: str, order=("head", "middle", "tail")):
    """{bucket: [n_tier0, n_tier1, n_tier2]} from a (bucket, tier) frame."""
    rows = (
        df.groupBy(bucket_col).pivot("tier", [0, 1, 2]).count().collect()
    )
    return {
        r[bucket_col]: [(r["0"] or 0), (r["1"] or 0), (r["2"] or 0)]
        for r in sorted(rows, key=lambda r: order.index(r[bucket_col]))
    }


def head_tail_stats(conf: dict, base: list[int]) -> dict:
    head, tail = conf["head"], conf["tail"]
    n = sum(base)
    p_head = head[0] / sum(head)
    p_tail = tail[2] / sum(tail)
    return {
        "head_tier0_precision": round(p_head, 4),
        "head_tier0_lift": round(p_head / (base[0] / n), 4),
        "tail_tier2_precision": round(p_tail, 4),
        "tail_tier2_lift": round(p_tail / (base[2] / n), 4),
        "tier2_leaked_into_head": head[2],
        "head_tier0_recall": round(head[0] / base[0], 4),
        "tail_tier2_recall": round(tail[2] / base[2], 4),
    }


def unigram_doc_tertiles(spark, sf_dir: str):
    """Float replica of the RETIRED r4–r13 unigram scorer (per-doc
    add-one-smoothed unigram NLL → exact-percentile tertiles). Kept
    study-side so the unigram→bigram decision-quality delta that
    justified the r14 promotion stays measured."""
    from presto_truffle_spark.catalog import load_table
    from presto_truffle_spark.operators.text import _LM_TRAIN_HI

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.split("text", " ")).alias("tok"),
        (
            F.substring(F.md5(F.col("text").cast("binary")), 1, 2)
            < _LM_TRAIN_HI
        ).alias("is_train"),
    )
    d = d.cache()
    tc = (
        d.filter("is_train")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ns = tc.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    p = (F.coalesce("c", F.lit(0)) + 1) / F.lit(float(ns.n + ns.v + 1))
    sc = (
        d.join(F.broadcast(tc), "tok", "left")
        .groupBy("doc_id")
        .agg((-F.avg(F.log(p))).alias("nll"))
    )
    thr = sc.agg(
        F.percentile("nll", F.lit(1.0 / 3)).alias("t1"),
        F.percentile("nll", F.lit(2.0 / 3)).alias("t2"),
    ).collect()[0]
    bucket = (
        F.when(F.col("nll") <= thr.t1, "head")
        .when(F.col("nll") <= thr.t2, "middle")
        .otherwise("tail")
    )
    return sc.select("doc_id", bucket.alias("bucket"))


def bigram_doc_tertiles(spark, sf_dir: str):
    """Per-doc Jelinek-Mercer bigram NLL → exact-percentile tertiles
    (doc_id, bucket). Same mixture as text_bigram_lm_perplexity
    (0.7 bigram MLE + 0.3 add-one unigram, `_jm_bigram_p` in
    operators/text.py), scored per DOCUMENT; floats are fine study-side
    (no oracle hash)."""
    from presto_truffle_spark.catalog import load_table
    from presto_truffle_spark.operators.text import _LM_TRAIN_HI

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        (
            F.substring(F.md5(F.col("text").cast("binary")), 1, 2)
            < _LM_TRAIN_HI
        ).alias("is_train"),
    )
    d = d.cache()
    sz = F.size("toks")
    bigrams = F.zip_with(
        F.slice("toks", 1, sz - 1),
        F.slice("toks", 2, sz - 1),
        lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
    )
    tr = d.filter("is_train")
    tr_bi = (
        tr.select(F.explode(bigrams).alias("b"))
        .groupBy(F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur"))
        .agg(F.count(F.lit(1)).alias("cbi"))
    )
    tr_ctx = tr_bi.groupBy("prev").agg(F.sum("cbi").alias("cprev"))
    tr_uni = (
        tr.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cuni"))
    )
    ns = tr_uni.agg(
        F.sum("cuni").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    db = d.select("doc_id", F.explode(bigrams).alias("b")).select(
        "doc_id",
        F.col("b.prev").alias("prev"),
        F.col("b.cur").alias("cur"),
    )
    j = (
        db.join(F.broadcast(tr_bi), ["prev", "cur"], "left")
        .join(F.broadcast(tr_ctx), "prev", "left")
        .join(
            F.broadcast(tr_uni.select(F.col("tok").alias("cur"), "cuni")),
            "cur",
            "left",
        )
    )
    p = 0.7 * F.coalesce("cbi", F.lit(0)) / F.coalesce(
        "cprev", F.lit(1)
    ) + 0.3 * (F.coalesce("cuni", F.lit(0)) + 1) / F.lit(
        float(ns.n + ns.v + 1)
    )
    sc = j.groupBy("doc_id").agg((-F.avg(F.log(p))).alias("nll"))
    thr = sc.agg(
        F.percentile("nll", F.lit(1.0 / 3)).alias("t1"),
        F.percentile("nll", F.lit(2.0 / 3)).alias("t2"),
    ).collect()[0]
    bucket = (
        F.when(F.col("nll") <= thr.t1, "head")
        .when(F.col("nll") <= thr.t2, "middle")
        .otherwise("tail")
    )
    return sc.select("doc_id", bucket.alias("bucket"))


def study(spark, sf_dir: str, labels) -> dict:
    from presto_truffle_spark.operators.corpus_ops import (
        corpus_quality_calibrated,
    )
    from presto_truffle_spark.operators.text import (
        ccnet_doc_buckets,
        text_quality_score,
    )

    labels = labels.cache()
    base = [
        r["count"]
        for r in labels.groupBy("tier").count().orderBy("tier").collect()
    ]

    reg = confusion(
        ccnet_doc_buckets(spark, sf_dir).join(labels, "doc_id"), "bucket"
    )
    uni = confusion(
        unigram_doc_tertiles(spark, sf_dir).join(labels, "doc_id"),
        "bucket",
    )
    bi = confusion(
        bigram_doc_tertiles(spark, sf_dir).join(labels, "doc_id"), "bucket"
    )
    cal = {
        int(r.kept): [(r["0"] or 0), (r["1"] or 0), (r["2"] or 0)]
        for r in corpus_quality_calibrated(spark, sf_dir)
        .join(labels, "doc_id")
        .groupBy("kept")
        .pivot("tier", [0, 1, 2])
        .count()
        .collect()
    }
    qs_pass = (
        text_quality_score(spark, sf_dir)
        .agg(F.sum("passes_quality"))
        .collect()[0][0]
    )
    kept = cal.get(1, [0, 0, 0])
    return {
        "n_docs": sum(base),
        "tier_sizes": base,
        "ccnet_registered_bigram": {
            "confusion": reg,
            **head_tail_stats(reg, base),
        },
        "unigram_retired": {"confusion": uni, **head_tail_stats(uni, base)},
        "bigram_float_twin": {
            "confusion": bi,
            **head_tail_stats(bi, base),
        },
        "calibrated_ttr_gate": {
            "kept_rate_by_tier": [
                round(kept[i] / base[i], 4) for i in range(3)
            ],
            "verdict": "does NOT separate tiers on this fixture (negative result, recorded)",
        },
        "text_quality_score": {
            "n_passing": int(qs_pass or 0),
            "verdict": "corpus-derived stopword head since r14 — "
            "non-degenerate (was: all-fail on w### tokens with the "
            "fixed English list)",
        },
    }


def main() -> int:
    from presto_truffle_spark.session import get_spark

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    spark = get_spark("quality-gate-study", cpus="8")
    out = os.path.join(
        tempfile.gettempdir(), f"quality_gate_study/sf{n_docs}_s{seed}"
    )
    labels = materialize_labeled_fixture(spark, out, n_docs, seed)
    result = study(spark, out, labels)
    print(json.dumps({"sf_dir": out, "seed": seed, **result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
