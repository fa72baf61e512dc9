"""Three shared-builder families against their DuckDB oracles, value for value.

* The five language-model keys share one count builder, ``_LMCounts`` in
  ``operators/text.py`` (``corpus_ccnet_quality_buckets`` also reads the
  bucketed-rank grid below).
* The six other bucketed-rank keys share the grid builder in
  ``operators/grid.py``, and the three exact-rank keys share its input
  frames (per-customer cents, two-segment cents).
* The eight IVF/PQ retrieval keys share the centroid, cell-rank,
  sub-space, codebook, squared-L2, PQ-encode, lookup-table and ADC
  re-rank steps in ``operators/similarity.py``.

Each key runs at the selfcheck fixture scale and is compared with its
registered ``oracle_sql()`` using ``tools/selfcheck.py``'s exact,
type-aware ``canon`` and its oracle dtype gate, so a builder change that
moves one integer micro-nat, one bucket or one output type fails here.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from perfbench.checks import load_selfcheck

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
selfcheck = load_selfcheck(REPO)

LM_KEYS = [
    "text_unigram_lm_perplexity",
    "text_bigram_lm_perplexity",
    "text_kn_bigram_perplexity",
    "text_trigram_lm_perplexity",
    "corpus_ccnet_quality_buckets",
]

GRID_KEYS = [
    "agg_gini_bucketed",
    "agg_mwu_bucketed",
    "agg_ks_bucketed",
    "agg_lorenz_curve",
    "agg_spearman_bucketed",
    "eval_auc_bucketed",
    "agg_gini_coefficient",
    "agg_mann_whitney_u",
    "agg_ks_test_two_sample",
]

IVFPQ_KEYS = [
    "ann_ivf_topk",
    "ann_ivf_topk_nprobe3",
    "ann_kmeans_iteration",
    "ann_pq_codes",
    "ann_ivfpq_retrieval",
    "ann_ivfpq_residual",
    "ann_ivfpq_index_build",
    "eval_cluster_ari",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in selfcheck.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{selfcheck.SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", LM_KEYS + GRID_KEYS + IVFPQ_KEYS)
def test_lm_key_matches_oracle(spark, duck, name):
    import __spark_entry__ as entry

    sdf = entry.queries()[name](spark, selfcheck.SF_DIR)
    cols = [c.lower() for c in sdf.columns]
    rows = [tuple(r) for r in sdf.collect()]
    sql = entry.oracle_sql()[name]
    assert not selfcheck.oracle_dtype_violations(duck, sql, dict(sdf.dtypes))
    res = duck.execute(sql)
    duck_cols = [d[0].lower() for d in res.description]
    assert sorted(cols) == sorted(duck_cols)
    assert selfcheck.canon(rows, cols) == selfcheck.canon(res.fetchall(), duck_cols)
