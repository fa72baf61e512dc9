"""Golden-value unit tests on tiny literal DataFrames.

Mirrors the reference's test strategy (SURVEY.md §5.1): deterministic
inputs with hand-computed expected outputs, like the golden value in
``TpchQuery6.java:38-39``.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_q6_golden_on_literal_rows(spark, tmp_path):
    """Hand-computed Q6 over 4 literal rows (golden-value style)."""
    rows = [
        # (shipdate, discount, quantity, price) -> passes?
        Row(l_shipdate=dt.datetime(1996, 6, 1), l_discount=0.06, l_quantity=10.0,
            l_extendedprice=1000.0),  # pass: 60.0
        Row(l_shipdate=dt.datetime(1996, 6, 1), l_discount=0.04, l_quantity=10.0,
            l_extendedprice=1000.0),  # fail: discount
        Row(l_shipdate=dt.datetime(1997, 6, 1), l_discount=0.06, l_quantity=10.0,
            l_extendedprice=1000.0),  # fail: date
        Row(l_shipdate=dt.datetime(1996, 6, 1), l_discount=0.07, l_quantity=30.0,
            l_extendedprice=1000.0),  # fail: quantity
    ]
    d = tmp_path / "lineitem.parquet"
    spark.createDataFrame(rows).write.mode("overwrite").parquet(str(d))

    from presto_truffle_spark.operators.relational import q6

    # q6 loads f"{sf_dir}/lineitem.parquet"
    out = q6(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["revenue"] == 60.0


def test_asof_join_semantics(spark, tmp_path):
    """As-of join: purchase matches latest signup at-or-before, per user."""
    t = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return t + dt.timedelta(minutes=minutes)

    rows = [
        Row(event_id=1, ts=ts(0), user_id=1, event_type="signup", value=0.0, props=None),
        Row(event_id=2, ts=ts(10), user_id=1, event_type="purchase", value=5.0, props=None),
        Row(event_id=3, ts=ts(20), user_id=1, event_type="signup", value=0.0, props=None),
        Row(event_id=4, ts=ts(30), user_id=1, event_type="purchase", value=7.0, props=None),
        # user 2: purchase before any signup -> NULL signup_ts
        Row(event_id=5, ts=ts(5), user_id=2, event_type="purchase", value=1.0, props=None),
        Row(event_id=6, ts=ts(50), user_id=2, event_type="signup", value=0.0, props=None),
        # user 3: signup at the same instant as purchase -> matches (>=)
        Row(event_id=7, ts=ts(0), user_id=3, event_type="signup", value=0.0, props=None),
        Row(event_id=8, ts=ts(0), user_id=3, event_type="purchase", value=2.0, props=None),
    ]
    spark.createDataFrame(rows, EVENTS_SCHEMA).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )

    from presto_truffle_spark.operators.timeseries import events_asof_join

    out = {r["event_id"]: r for r in events_asof_join(spark, str(tmp_path)).collect()}
    assert out[2]["signup_ts"] == ts(0)
    assert out[4]["signup_ts"] == ts(20)
    assert out[5]["signup_ts"] is None
    assert out[8]["signup_ts"] == ts(0)


def test_sessionize_islands(spark, tmp_path):
    """Gap > 30 min starts a new session."""
    t = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return t + dt.timedelta(minutes=minutes)

    rows = [
        Row(event_id=1, ts=ts(0), user_id=1, event_type="x", value=0.0, props=None),
        Row(event_id=2, ts=ts(29), user_id=1, event_type="x", value=0.0, props=None),
        Row(event_id=3, ts=ts(60), user_id=1, event_type="x", value=0.0, props=None),
        Row(event_id=4, ts=ts(200), user_id=1, event_type="x", value=0.0, props=None),
    ]
    spark.createDataFrame(rows, EVENTS_SCHEMA).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )

    from presto_truffle_spark.operators.timeseries import events_sessionize_islands

    out = {r["event_id"]: r["session_seq"] for r in
           events_sessionize_islands(spark, str(tmp_path)).collect()}
    assert out == {1: 0, 2: 0, 3: 1, 4: 2}


def test_minhash_identical_docs_are_candidates(spark, tmp_path):
    """Two identical documents must be LSH candidates with jaccard 1.0."""
    text = " ".join(f"tok{i}" for i in range(30))
    other = " ".join(f"zzz{i}" for i in range(30))
    rows = [
        Row(doc_id=1, text=text, lang="en", source="s", n_chars=len(text)),
        Row(doc_id=2, text=text, lang="en", source="s", n_chars=len(text)),
        Row(doc_id=3, text=other, lang="en", source="s", n_chars=len(other)),
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    from presto_truffle_spark.operators.dedup import dedup_minhash_lsh

    out = dedup_minhash_lsh(spark, str(tmp_path)).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    assert pairs == {(1, 2): 1.0}


def test_simhash_deterministic_and_equal_for_dups(spark, tmp_path):
    text = "alpha beta gamma delta epsilon zeta"
    rows = [
        Row(doc_id=1, text=text, lang="en", source="s", n_chars=1),
        Row(doc_id=2, text=text, lang="en", source="s", n_chars=1),
        Row(doc_id=3, text="totally different words here now", lang="en", source="s",
            n_chars=1),
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    from presto_truffle_spark.operators.dedup import dedup_simhash

    out = {r["doc_id"]: r["simhash"] for r in dedup_simhash(spark, str(tmp_path)).collect()}
    assert out[1] == out[2]
    assert 0 <= out[1] < 2 ** 16


def test_cosine_topk_self_similarity(spark, tmp_path):
    """A duplicate of the query vector must rank first with cos_sim 1.0."""
    q = [1.0] + [0.0] * 63
    dup = [2.0] + [0.0] * 63       # same direction
    orth = [0.0, 3.0] + [0.0] * 62  # orthogonal
    mix = [1.0, 1.0] + [0.0] * 62   # cos = 1/sqrt(2)
    rows = [
        Row(vec_id=0, embedding=q, label=0),
        Row(vec_id=10, embedding=dup, label=1),
        Row(vec_id=11, embedding=orth, label=2),
        Row(vec_id=12, embedding=mix, label=3),
    ]
    df = spark.createDataFrame(rows)
    df = df.withColumn("embedding", F.col("embedding").cast("array<float>"))
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    from presto_truffle_spark.operators.similarity import ann_cosine_topk

    out = [(r["cid"], r["cos_sim"]) for r in
           ann_cosine_topk(spark, str(tmp_path)).orderBy(F.desc("cos_sim")).collect()]
    assert out[0] == (10, 1.0)
    assert abs(out[1][1] - 0.707107) < 1e-6
    assert out[2] == (11, 0.0)


def test_window_topk_per_group_bound(spark, sf_dir):
    from presto_truffle_spark.operators.windows import window_topk_per_group

    out = window_topk_per_group(spark, sf_dir)
    counts = out.groupBy("o_custkey").count().agg(F.max("count")).collect()[0][0]
    assert counts <= 3


def test_multimodal_meta_matches_fake_decode(spark, sf_dir):
    from presto_truffle_spark.operators.multimodal import (
        fake_decode_meta,
        multimodal_extract_meta,
    )

    row = multimodal_extract_meta(spark, sf_dir).orderBy("media_id").first()
    w, h, nf = fake_decode_meta(b"x" * row["byte_len"])
    assert (row["width"], row["height"], row["n_frames"]) == (w, h, nf)


def test_decode_image_stub_raises():
    import pytest

    from presto_truffle_spark.operators.multimodal import decode_image

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL installed; stub not exercised")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG fake")


def test_compaction_reduces_file_count(spark, sf_dir):
    """sink_compaction: 64 fragments in, <= 4 data files out, same rows."""
    import glob
    import os

    from presto_truffle_spark.sources.io import _scoped_scratch, sink_compaction

    n_rows = sink_compaction(spark, sf_dir).agg({"n": "sum"}).collect()[0][0]
    frag = len(glob.glob(os.path.join(_scoped_scratch(spark, "li_fragmented"), "part-*")))
    comp = len(glob.glob(os.path.join(_scoped_scratch(spark, "li_compacted"), "part-*")))
    assert frag == 64 and comp <= 4
    from presto_truffle_spark.catalog import load_table

    assert n_rows == load_table(spark, sf_dir, "lineitem").count()


def _write_events_days(spark, tmp_path, counts_by_day, event_type="t"):
    """Tiny events.parquet with `counts_by_day[i]` rows on 2024-01-(i+1)."""
    import datetime

    rows = []
    eid = 0
    for i, n in enumerate(counts_by_day):
        for _ in range(n):
            rows.append(
                (
                    eid,
                    datetime.datetime(2024, 1, i + 1, 12, 0, 0),
                    1,
                    event_type,
                    1.0,
                    "{}",
                )
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


def test_isotonic_trend_matches_pava_hand_examples(spark, tmp_path):
    """Minimax identity ≡ PAVA on hand-solved series: [3,1,2] pools to
    [2,2,2]; [1,3,2,4] pools the middle violator to [1,2.5,2.5,4]."""
    from presto_truffle_spark.operators.timeseries_advanced import (
        events_isotonic_daily_trend,
    )

    _write_events_days(spark, tmp_path, [3, 1, 2])
    out = [
        r.iso_fit
        for r in events_isotonic_daily_trend(spark, str(tmp_path))
        .orderBy("day")
        .collect()
    ]
    assert out == [2.0, 2.0, 2.0], out

    _write_events_days(spark, tmp_path, [1, 3, 2, 4])
    out = [
        r.iso_fit
        for r in events_isotonic_daily_trend(spark, str(tmp_path))
        .orderBy("day")
        .collect()
    ]
    assert out == [1.0, 2.5, 2.5, 4.0], out


def test_isotonic_trend_monotone_on_fixture(spark, sf_dir):
    from itertools import groupby

    from presto_truffle_spark.operators.timeseries_advanced import (
        events_isotonic_daily_trend,
    )

    rows = sorted(
        (r.event_type, r.day, r.iso_fit)
        for r in events_isotonic_daily_trend(spark, sf_dir).collect()
    )
    for _, grp in groupby(rows, key=lambda r: r[0]):
        fits = [g[2] for g in grp]
        assert all(x <= y for x, y in zip(fits, fits[1:])), fits


def test_benjamini_hochberg_step_up_and_degenerate(spark, tmp_path):
    """A planted 2-of-7 skew rejects exactly the two heavy days; a
    perfectly uniform week (every z² = 0, p = 1) rejects NOTHING —
    the a=0 guard, not a vacuous 0<=0 flag."""
    from presto_truffle_spark.operators.aggregates import (
        agg_benjamini_hochberg_dow,
    )

    # 2024-01-01 is a Monday; days Mon..Sun get these counts.
    # Hand-solved: N=1700, B=6N=10200; heavy diff=7*350-1700=750 gives
    # z²=55 (p=.0182, flagged at rank 2: .0182 <= .1*2/7); light
    # diff=-300 gives z²=8.8 (p=.113 > .1*k/7 for every k<=7) — k*=2,
    # exactly the two heavy days. (A stronger plant like [600,600,100×5]
    # correctly rejects ALL 7: the light days then genuinely deviate.)
    _write_events_days(spark, tmp_path, [350, 350, 200, 200, 200, 200, 200])
    out = {
        r.dow: r.rejected
        for r in agg_benjamini_hochberg_dow(spark, str(tmp_path)).collect()
    }
    assert sum(out.values()) == 2, out
    assert out[1] == 1 and out[2] == 1, out  # Mon=1, Tue=2 (Sun=0)

    _write_events_days(spark, tmp_path, [50] * 7)
    out = [
        (r.p_chebyshev, r.rejected)
        for r in agg_benjamini_hochberg_dow(spark, str(tmp_path)).collect()
    ]
    assert all(p == 1.0 and rej == 0 for p, rej in out), out


def test_functional_dependency_profile_verdicts(spark, sf_dir):
    from presto_truffle_spark.operators.aggregates import (
        profile_functional_dependencies,
    )

    out = {
        r.fd: (r.holds, r.n_violating_lhs)
        for r in profile_functional_dependencies(spark, sf_dir).collect()
    }
    assert out["nation.n_nationkey->n_name"] == (1, 0)
    assert out["part.p_partkey->p_brand"] == (1, 0)
    # every value-level candidate fails with a positive violation count
    for fd in (
        "part.p_brand->p_type",
        "orders.o_orderstatus->o_orderpriority",
        "customer.c_mktsegment->c_nationkey",
    ):
        holds, viol = out[fd]
        assert holds == 0 and viol > 0, (fd, out[fd])


def test_inclusion_dependency_profile_verdicts(spark, sf_dir):
    from presto_truffle_spark.operators.aggregates import (
        profile_inclusion_dependencies,
    )

    out = {
        r.ind: (r.holds, r.n_missing)
        for r in profile_inclusion_dependencies(spark, sf_dir).collect()
    }
    for ind in (
        "lineitem.l_orderkey <= orders.o_orderkey",
        "orders.o_custkey <= customer.c_custkey",
        "customer.c_nationkey <= nation.n_nationkey",
    ):
        assert out[ind] == (1, 0), (ind, out[ind])
    holds, missing = out["orders.o_orderkey <= lineitem.l_orderkey"]
    assert holds == 0 and missing > 0, out


def test_empirical_bayes_shrinkage_direction(spark, sf_dir):
    """Thin users land nearer the global rate than their raw rate;
    weights are monotone in n; a user with s=0 still gets a positive
    shrunk rate (the prior's whole point)."""
    from presto_truffle_spark.operators.aggregates import (
        agg_empirical_bayes_rates,
    )

    rows = agg_empirical_bayes_rates(spark, sf_dir).collect()
    assert rows
    nn = sum(r.n for r in rows)
    ss = sum(r.s for r in rows)
    pg = ss / nn
    for r in rows:
        raw = r.s / r.n
        lo, hi = min(raw, pg), max(raw, pg)
        assert lo - 1e-6 <= r.shrunk_rate <= hi + 1e-6, (r, pg)
        if r.s == 0:
            assert r.shrunk_rate > 0
    by_n = sorted(rows, key=lambda r: r.n)
    ws = [r.shrink_weight for r in by_n]
    assert all(a <= b + 1e-9 for a, b in zip(ws, ws[1:]))


def test_chao1_hand_example(spark, tmp_path):
    """Hand-solved Chao1 on 'a a b c': counts a:2 b:1 c:1 so f1={b,c}=2,
    f2={a}=1 -> chao1 = 3 + 2*1/(2*(1+1)) = 3.5; Good's C = 1 - 2/4 =
    0.5."""
    from pyspark.sql import Row

    from presto_truffle_spark.operators.text import (
        text_chao1_vocabulary_richness,
    )

    rows = [
        Row(doc_id=1, text="a a b c", lang="en", source="s", n_chars=7),
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = text_chao1_vocabulary_richness(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.v_observed, r.n_tokens, r.f1, r.f2) == (3, 4, 2, 1)
    assert r.chao1_est == 3.5 and r.goods_coverage == 0.5, r


def test_max_revenue_burst_hand_example(spark, tmp_path):
    """Daily cents [100, 700, 700, 100, 100] (one 1-dollar event per
    day scaled): mean 340; deviations*5 = [sum-len*1700 scaled] — the
    best window is days 2-3 with excess (1400*5 - 2*1700) = 3600."""
    import datetime

    rows = []
    eid = 0
    for i, dollars in enumerate([1, 7, 7, 1, 1]):
        rows.append(
            (
                eid,
                datetime.datetime(2024, 1, i + 1, 12, 0, 0),
                1,
                "t",
                float(dollars),
                "{}",
            )
        )
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from presto_truffle_spark.operators.timeseries_advanced import (
        events_max_revenue_burst,
    )

    r = events_max_revenue_burst(spark, str(tmp_path)).collect()[0]
    assert (
        r.start_day == datetime.date(2024, 1, 2)
        and r.end_day == datetime.date(2024, 1, 3)
        and r.burst_days == 2
        and r.excess_cents_x_days == 1400 * 5 - 2 * 1700
    ), r


def test_allen_relations_all_13_classes(spark, tmp_path):
    """One hand-built (view, click) span pair per user, each hitting a
    distinct Allen relation — the cascade is exclusive and exhaustive."""
    import datetime

    cases = [  # (view_start, view_end, click_start, click_end) minutes
        ("before", 0, 10, 20, 30),
        ("after", 20, 30, 0, 10),
        ("meets", 0, 10, 10, 20),
        ("met_by", 10, 20, 0, 10),
        ("equals", 0, 10, 0, 10),
        ("starts", 0, 10, 0, 20),
        ("started_by", 0, 20, 0, 10),
        ("finishes", 10, 20, 0, 20),
        ("finished_by", 0, 20, 10, 20),
        ("during", 10, 20, 0, 30),
        ("contains", 0, 30, 10, 20),
        ("overlaps", 0, 20, 10, 30),
        ("overlapped_by", 10, 30, 0, 20),
    ]
    base = datetime.datetime(2024, 1, 1, 8, 0, 0)
    rows, eid = [], 0
    for uid, (_, vs, ve, cs, ce) in enumerate(cases):
        for typ, m in (("view", vs), ("view", ve), ("click", cs), ("click", ce)):
            rows.append(
                (eid, base + datetime.timedelta(minutes=m), uid, typ, 1.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from presto_truffle_spark.operators.joins import (
        join_allen_interval_relations,
    )

    out = {
        r.relation: r.n_pairs
        for r in join_allen_interval_relations(spark, str(tmp_path)).collect()
    }
    assert out == {name: 1 for name, *_ in cases}, out


def test_allen_band_relations_classes_and_boundaries(spark, tmp_path):
    """The ±60s band cascade: all 13 classes hit with CLEAR-band
    spacings, plus the boundary migrations the bands exist for — a
    30 s gap ('before' under crisp) classifies as meets; 30 s-shifted
    coincident spans ('overlaps' under crisp) classify as equals."""
    import datetime

    cases = [  # (relation, view_start, view_end, click_start, click_end) MINUTES
        ("before", 0, 10, 20, 30),
        ("after", 20, 30, 0, 10),
        ("meets", 0, 10, 10, 20),
        ("met_by", 10, 20, 0, 10),
        ("equals", 0, 10, 0, 10),
        ("starts", 0, 10, 0, 20),
        ("started_by", 0, 20, 0, 10),
        ("finishes", 10, 20, 0, 20),
        ("finished_by", 0, 20, 10, 20),
        ("during", 10, 20, 0, 30),
        ("contains", 0, 30, 10, 20),
        ("overlaps", 0, 20, 10, 30),
        ("overlapped_by", 10, 30, 0, 20),
    ]
    base = datetime.datetime(2024, 1, 1, 8, 0, 0)
    rows, eid, uid = [], 0, 0
    for _, vs, ve, cs, ce in cases:
        for typ, m in (("view", vs), ("view", ve), ("click", cs), ("click", ce)):
            rows.append(
                (eid, base + datetime.timedelta(minutes=m), uid, typ, 1.0, "{}")
            )
            eid += 1
        uid += 1
    # Boundary cases in SECONDS: crisp-before with a 30 s gap -> meets
    # (|a_e - b_s| <= 60 and orderings clear the band); two 10-minute
    # spans offset by 30 s -> equals (both endpoint pairs within band).
    boundary = [
        ("meets", 0, 600, 630, 1800),
        ("equals", 0, 600, 30, 630),
    ]
    expected = {name: 1 for name, *_ in cases}
    for name, vs, ve, cs, ce in boundary:
        for typ, s in (("view", vs), ("view", ve), ("click", cs), ("click", ce)):
            rows.append(
                (eid, base + datetime.timedelta(seconds=s), uid, typ, 1.0, "{}")
            )
            eid += 1
        uid += 1
        expected[name] = expected.get(name, 0) + 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from presto_truffle_spark.operators.joins import (
        join_allen_tolerance_bands,
    )

    out = {
        r.relation: r.n_pairs
        for r in join_allen_tolerance_bands(spark, str(tmp_path)).collect()
    }
    assert out == expected, (out, expected)


def test_isotonic_trend_pava_invariants(spark, tmp_path):
    """Two PAVA invariants beyond the hand examples: a NON-DECREASING
    series is its own fit (projection idempotence on the cone), and
    the fit preserves the total sum (level-set means preserve mass)."""
    from presto_truffle_spark.operators.timeseries_advanced import (
        events_isotonic_daily_trend,
    )

    for counts in ([1, 2, 2, 5, 9], [4, 1, 3, 2, 8, 1, 1, 7]):
        _write_events_days(spark, tmp_path, counts)
        rows = (
            events_isotonic_daily_trend(spark, str(tmp_path))
            .orderBy("day")
            .collect()
        )
        fits = [r.iso_fit for r in rows]
        assert all(a <= b for a, b in zip(fits, fits[1:])), fits
        # fits are 6dp-rounded at emission: n * 5e-7 rounding budget
        assert abs(sum(fits) - sum(counts)) < len(counts) * 5e-7 + 1e-9, (
            fits,
            counts,
        )
        if counts == sorted(counts):
            assert fits == [float(c) for c in counts], fits


def test_hurst_rescaled_range_directional(spark, tmp_path):
    """R/S directional invariants on hand-built 30-day series: a pure
    linear ramp is maximally persistent (R/S grows ∝ s, so the fitted
    H ≈ 1), an alternating series is anti-persistent (H well below
    0.5). One event per day, value = the day's revenue in dollars."""
    import datetime

    from presto_truffle_spark.operators.timeseries_advanced import (
        events_hurst_rescaled_range,
    )

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def run(values):
        rows = [
            (i, base + datetime.timedelta(days=i), 1, "view", float(v), "{}")
            for i, v in enumerate(values)
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string",
        ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
        out = events_hurst_rescaled_range(spark, str(tmp_path)).collect()
        assert len(out) == 3 and len({r.hurst_estimate for r in out}) == 1
        return out[0].hurst_estimate

    trending = run([100.0 * (i + 1) for i in range(30)])
    alternating = run([100.0 if i % 2 == 0 else 300.0 for i in range(30)])
    assert trending >= 0.75, trending
    assert alternating <= 0.5, alternating
    assert trending > alternating


def test_theil_decomposition_identity(spark, sf_dir):
    """T_total = Σ s_g·T_g + Σ s_g·ln(μ_g/μ) — the additive
    decomposition is the op's reason to exist; verify it against an
    independently computed single-group Theil over the same
    per-customer revenue (float path, no micro-nat freeze, so the two
    computations share no code beyond the revenue fold)."""
    import math

    import duckdb

    from presto_truffle_spark.operators.aggregates import (
        agg_theil_inequality_decomposition,
    )

    rows = agg_theil_inequality_decomposition(spark, sf_dir).collect()
    assert len(rows) == 5
    combined = sum(
        r["income_share"] * r["theil_within"] + r["between_term"]
        for r in rows
    )
    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    xs = [
        r[0]
        for r in con.execute(
            """
            SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                               AS BIGINT)) AS BIGINT)
            FROM orders JOIN customer ON c_custkey = o_custkey
            GROUP BY c_custkey
            """
        ).fetchall()
    ]
    n, x_tot = len(xs), sum(xs)
    t_global = sum(x / x_tot * math.log(x * n / x_tot) for x in xs)
    # micro-nat freeze + 6dp output rounding bound the gap well below 1e-3
    assert abs(combined - t_global) < 1e-3, (combined, t_global)
    # shares partition the total income
    assert abs(sum(r["income_share"] for r in rows) - 1.0) < 1e-4


def test_kendall_tau_pair_ledger(spark, sf_dir):
    """P + Q + (pairs with either tie) = n0 and tau_b ∈ [-1, 1]; the
    two metrics (revenue, order count) are strongly concordant across
    nations on every fixture (more orders ⇒ more revenue)."""
    from presto_truffle_spark.operators.aggregates import (
        agg_kendall_tau_nations,
    )

    r = agg_kendall_tau_nations(spark, sf_dir).collect()[0]
    assert r["n_pairs"] == r["n_nations"] * (r["n_nations"] - 1) // 2
    # a pair is concordant, discordant, or tied in at least one metric
    assert r["concordant"] + r["discordant"] <= r["n_pairs"]
    assert -1.0 <= r["tau_b"] <= 1.0
    assert r["tau_b"] > 0.5, r  # strong concordance on TPC-H-shaped data


def test_logrank_hand_example(spark, tmp_path):
    """Hand-computed log-rank on a 4-user fixture. Group 0 = users
    2,4 (even), group 1 = users 1,3. Death days: u1->d0, u2->d0,
    u3->d2, u4->d2 (each user's last event).

    Day d0: d=2, d1=1, r=4, r1=2 -> E1 = 2*(2/4) = 1,
            V = 2*(1/2)*(1/2)*((4-2)/3) = 1/3.
    Day d2: d=2, d1=1, r=2, r1=1 -> E1 = 2*(1/2) = 1,
            V = 2*(1/2)*(1/2)*(0/1) = 0.
    O1=2, E1=2, V=1/3, chi2 = 0.
    """
    import datetime

    rows = []
    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    eid = 0
    for uid, last_day in ((1, 0), (2, 0), (3, 2), (4, 2)):
        for d in range(last_day + 1):
            rows.append(
                (eid, base + datetime.timedelta(days=d), uid, "view", 1.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from presto_truffle_spark.operators.timeseries_advanced import (
        events_logrank_test,
    )

    r = events_logrank_test(spark, str(tmp_path)).collect()[0]
    assert r["n_days"] == 2
    assert r["o1"] == 2
    assert r["e1"] == 2.0
    assert abs(r["variance"] - 1 / 3) < 1e-5
    assert r["logrank_chi2"] == 0.0


def test_point_in_polygon_hand_classified(spark):
    """Geometry proof for the crossing-number classifier against the
    12-vertex plus polygon (arms |coord| < 30000, waist |coord| <
    10000, notches where BOTH |x| > 10000 and |y| > 10000): the
    engine-parity oracle shares the formula, so the classification
    itself is proven here on hand-placed points."""
    from presto_truffle_spark.operators.joins import _pip_classify

    cases = [
        (0, 0, 0, 1),          # center
        (1, 20000, 0, 1),      # right arm
        (2, 0, 25000, 1),      # top arm
        (3, 5000, 5000, 1),    # central square
        (4, 20000, 20000, 0),  # NE notch (bounding box would say in)
        (5, -20000, -20000, 0),  # SW notch
        (6, 40000, 0, 0),      # beyond the right arm
        (7, 0, -40000, 0),     # below the bottom arm
        (8, -29999, 9999, 1),  # left arm corner, just inside
        (9, -29999, 10001, 0),  # just above the left arm
    ]
    pts = spark.createDataFrame(
        [(i, x, y) for i, x, y, _ in cases], "pid long, x long, y long"
    )
    got = {
        r["pid"]: r["inside"]
        for r in _pip_classify(spark, pts, ["pid"]).collect()
    }
    for pid, x, y, want in cases:
        assert got[pid] == want, (pid, x, y, got[pid], want)


def test_nearest_store_empty_block_fallback(spark, tmp_path):
    """The exact-fallback tier must recover the TRUE nearest store for
    a point whose 5x5 neighbor-cell block contains no store — the
    miss-handling `geo_nearest_store`'s guarantee bound cannot reach.

    Brute-force truth is recomputed IN PYTHON from the same key-derived
    coordinates, so the assertion is independent of both engines. The
    fixture keys are screened so at least one customer's block is
    empty and at least one is grid-resolvable (both tiers live)."""
    from presto_truffle_spark.operators.joins import (
        _NN_CELL,
        _NN_RINGS,
        geo_nearest_store,
    )

    def s_coord(k):
        return ((k * 7919) % 170000 - 85000,
                (k * 104729) % 360000 - 180000)

    def c_coord(k):
        return ((k * 48271) % 170000 - 85000,
                (k * 69621) % 360000 - 180000)

    def cell(lat, lon):
        return ((lat + 85000) // _NN_CELL, (lon + 180000) // _NN_CELL)

    store_keys = [0, 1, 2]
    store_pts = {k: s_coord(k) for k in store_keys}
    store_cells = set()
    for k, (slat, slon) in store_pts.items():
        cy, cx = cell(slat, slon)
        for dy in range(-_NN_RINGS, _NN_RINGS + 1):
            for dx in range(-_NN_RINGS, _NN_RINGS + 1):
                store_cells.add((cy + dy, cx + dx))

    # screen customer keys: need >=1 empty-block miss, >=1 block hit
    miss_keys, hit_keys = [], []
    for k in range(1, 3000):
        if cell(*c_coord(k)) in store_cells:
            if len(hit_keys) < 5:
                hit_keys.append(k)
        elif len(miss_keys) < 5:
            miss_keys.append(k)
        if len(miss_keys) == 5 and len(hit_keys) == 5:
            break
    assert len(miss_keys) >= 1 and len(hit_keys) >= 1

    cust_keys = miss_keys + hit_keys
    spark.createDataFrame(
        [(k, f"S{k}") for k in store_keys],
        "n_nationkey long, n_name string",
    ).write.mode("overwrite").parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(
        [(k,) for k in cust_keys], "c_custkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))

    def truth(k):
        clat, clon = c_coord(k)
        return min(
            (
                (clat - slat) ** 2 + (clon - slon) ** 2,
                f"S{sk}",
            )
            for sk, (slat, slon) in store_pts.items()
        )

    expect = {}  # store -> [n, min_d2, max_d2]
    for k in cust_keys:
        d2, sname = truth(k)
        e = expect.setdefault(sname, [0, d2, d2])
        e[0] += 1
        e[1] = min(e[1], d2)
        e[2] = max(e[2], d2)

    rows = {
        r["store"]: r
        for r in geo_nearest_store(spark, str(tmp_path)).collect()
    }
    assert len(rows) == 3
    for sname in (f"S{k}" for k in store_keys):
        r = rows[sname]
        if sname in expect:
            n, dmin, dmax = expect[sname]
            assert (r["n_assigned"], r["nearest_d2"], r["farthest_d2"]) \
                == (n, dmin, dmax), (sname, r)
        else:
            assert r["n_assigned"] == 0 and r["nearest_d2"] is None
    # the miss-path points specifically must carry the true assignment:
    # their stores' counts already include them (above), and the block
    # really was empty for every miss key by construction.
    assert all(cell(*c_coord(k)) not in store_cells for k in miss_keys)


def test_oneway_anova_hand_example(spark, tmp_path):
    """Hand-computed one-way ANOVA on a 3-group fixture (two of the
    five pivot segments absent — proves the per-term CASE guards and
    the present-group k count):

      AUTOMOBILE [1,2,3], BUILDING [2,3,4], FURNITURE [6,7,8] dollars
      means 2, 3, 7; grand 4; SSB = 3*4+3*1+3*9 = 42; SSW = 2+2+2 = 6
      F = (42/2)/(6/6) = 21;  eta^2 = 42/48 = 0.875
    """
    from presto_truffle_spark.operators.aggregates import (
        agg_oneway_anova,
    )

    groups = {
        "AUTOMOBILE": [1.0, 2.0, 3.0],
        "BUILDING": [2.0, 3.0, 4.0],
        "FURNITURE": [6.0, 7.0, 8.0],
    }
    custs, orders, ck, ok = [], [], 0, 0
    for seg, vals in groups.items():
        custs.append((ck, seg))
        for v in vals:
            orders.append((ok, ck, v))
            ok += 1
        ck += 1
    spark.createDataFrame(
        custs, "c_custkey long, c_mktsegment string"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_totalprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    r = agg_oneway_anova(spark, str(tmp_path)).collect()[0]
    assert r["n_groups"] == 3
    assert r["n_total"] == 9
    assert r["grand_mean"] == 4.0
    assert r["f_stat"] == 21.0
    assert r["eta_sq"] == 0.875


def test_grouped_map_zscore_on_int32_keys(spark, sf_dir, tmp_path):
    """An orders file written with int32 keys runs through both z-score
    paths and yields the same rows and types as the int64 fixture."""
    from presto_truffle_spark.operators.coverage_extras import (
        udf_grouped_map_zscore,
    )

    spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").cast("int").alias("o_custkey"),
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        "o_totalprice",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    got = udf_grouped_map_zscore(spark, str(tmp_path))
    want = udf_grouped_map_zscore(spark, sf_dir)
    assert got.dtypes == want.dtypes
    rows = sorted(want.collect())
    assert rows and sorted(got.collect()) == rows
