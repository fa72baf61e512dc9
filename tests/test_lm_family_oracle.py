"""The language-model family against its DuckDB oracles, value for value.

The five keys below share one count builder in ``operators/text.py``;
this test runs each at the selfcheck fixture scale and compares it with
its registered ``oracle_sql()`` using ``tools/selfcheck.py``'s exact,
type-aware ``canon`` and its oracle dtype gate, so a builder change that
moves one integer micro-nat or one output type fails here.
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


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in selfcheck.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{selfcheck.SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", LM_KEYS)
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
