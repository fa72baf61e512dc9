"""Recall study: approximate operators vs their brute-force ground truth.

Two measurements (both deterministic, so these are reproducible quality
numbers, not samples):

  * MinHash-LSH near-dup pairs vs ALL-pairs exact Jaccard >= threshold —
    pair recall (r1 measured 25/25 ad hoc; this makes it a script).
  * IVF ANN (nprobe=1) vs exact cosine top-k — mean recall@k over the
    query set, plus per-query detail.

Usage: python tools/recall_study.py [sf_dir]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> None:
    from pyspark.sql import functions as F

    from presto_truffle_spark.catalog import load_table
    from presto_truffle_spark.operators.dedup import (
        _JACCARD_THRESHOLD,
        _SHINGLE,
        _lsh_tables,
        dedup_minhash_lsh,
    )
    from presto_truffle_spark.operators.similarity import (
        _TOP_K,
        _ivf_topk,
        ann_cosine_topk,
    )
    from presto_truffle_spark.session import get_spark

    spark = get_spark("recall_study")

    # --- MinHash-LSH pair recall vs brute-force ground truth -------------
    sh = _lsh_tables(spark, SF_DIR)["sh"]
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    truth = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))  # all-pairs: GROUND TRUTH ONLY,
        # never a production path (see SCALING.md "What we do NOT do")
        .filter(inter / union >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    truth_pairs = {(r.doc_a, r.doc_b) for r in truth.collect()}
    lsh_pairs = {
        (r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    minhash = {
        "ground_truth_pairs": len(truth_pairs),
        "lsh_found": len(lsh_pairs & truth_pairs),
        "false_positives": len(lsh_pairs - truth_pairs),  # 0 by construction (verified)
        "recall": round(len(lsh_pairs & truth_pairs) / max(1, len(truth_pairs)), 4),
    }

    # --- IVF recall@k vs exact cosine top-k, nprobe sweep ----------------
    exact = ann_cosine_topk(spark, SF_DIR).collect()
    by_q_exact: dict[int, set[int]] = {}
    for r in exact:
        by_q_exact.setdefault(r.qid, set()).add(r.cid)
    sweep: dict[str, float] = {}
    for nprobe in (1, 2, 3, 8):
        ivf = _ivf_topk(spark, SF_DIR, nprobe=nprobe).collect()
        by_q_ivf: dict[int, set[int]] = {}
        for r in ivf:
            by_q_ivf.setdefault(r.qid, set()).add(r.cid)
        per_q = [
            len(by_q_exact[qid] & by_q_ivf.get(qid, set())) / len(by_q_exact[qid])
            for qid in by_q_exact
        ]
        sweep[f"nprobe_{nprobe}"] = round(sum(per_q) / max(1, len(per_q)), 4)
    ivf_stats = {
        "k": _TOP_K,
        "n_queries": len(by_q_exact),
        "recall_at_k_by_nprobe": sweep,
        "n_cells": 8,
    }

    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "minhash_lsh": minhash,
                "ivf": ivf_stats,
                "jaccard_threshold": _JACCARD_THRESHOLD,
                "shingle": _SHINGLE,
            }
        )
    )


if __name__ == "__main__":
    main()
