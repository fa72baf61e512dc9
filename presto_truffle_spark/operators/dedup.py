"""Deduplication operators for LLM training-data pipelines.

[EXT] surface (BASELINE.json north_star). Four tiers, each with a different
cost/recall point at 100 TB:

  1. exact      — hash-groupBy on a content digest: one shuffle, always run.
  2. normalized — same, after text canonicalization.
  3. MinHash+LSH — near-dup candidates via banded minhash signatures, then
     exact-Jaccard verification ONLY within LSH buckets. The verify join is
     the crucial scale property: candidate pairs are bucket-mates, not the
     O(n²) cross product.
  4. SimHash    — bit-majority fingerprints; equal-fingerprint grouping.

Determinism contract: every hash is md5 (identical hex output in Spark and
DuckDB), so even the LSH pipeline is differential-testable against the SQL
oracle — our version of the reference's golden-value strategy
(``TpchQuery6.java:38-39``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from presto_truffle_spark.catalog import load_table
from presto_truffle_spark.registry import query

# ---------------------------------------------------------------------------
# Tier 1: exact dedup


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep the smallest doc_id.
    Grouping by the 128-bit digest (not the text itself) keeps shuffle rows
    small — at 100 TB the shuffle carries 16-byte keys, not documents."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "dedup_exact_survivors",
    oracle="""
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself (survivor rows): min-doc_id-per-text
    semi-joined back — deterministic survivor choice, unlike
    ``dropDuplicates`` whose survivor is partition-order dependent."""
    d = load_table(spark, sf_dir, "documents")
    keep = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return d.join(keep, "doc_id", "left_semi").select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Tier 2: normalized dedup


@query(
    "dedup_normalized",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS norm_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup after canonicalization (lowercase, collapse whitespace, trim) —
    catches trivially-reformatted copies that exact hashing misses."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), " +", " "))
    return d.groupBy(F.md5(norm.cast("binary")).alias("norm_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# Tier 3: MinHash + LSH near-dedup

_N_HASHES = 8  # minhash signature length
_N_BANDS = 4  # LSH bands (rows per band = _N_HASHES // _N_BANDS = 2)
_JACCARD_THRESHOLD = 0.5
_SHINGLE = 3  # token 3-grams


def _shingles_col():
    """Distinct token 3-gram shingles as an array column (Spark side).

    Built with slice + nested zip_with (linear in token count). The naive
    ``transform(sequence(...), i -> element_at(split(text), i))`` form
    re-evaluates the split per element — O(n²) per document, measured 3s
    for 5k docs at sf0.1 — so it's deliberately avoided.
    """
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    m = n - (_SHINGLE - 1)  # number of shingles
    a = F.slice(toks, 1, m)
    b = F.slice(toks, 2, m)
    c = F.slice(toks, 3, m)
    grams = F.zip_with(
        F.zip_with(a, b, lambda x, y: F.concat_ws(" ", x, y)),
        c,
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    return F.array_distinct(grams)


def _shingle_hashes_col(shingles):
    """64-bit shingle digests: first 16 hex chars of md5. All downstream
    stages (signature, Jaccard verify) run over these fixed-width 16-char
    tokens instead of full shingle strings — ~10× less data through the
    min/intersect kernels, identical across engines, and collision odds at
    64 bits are negligible for any bucket's shingle population."""
    return F.transform(shingles, lambda x: F.substring(F.md5(x.cast("binary")), 1, 16))


def _seeded_md5(seed: int):
    """Single-parameter lambda hashing an element with a seed prefix.

    MUST be built through this factory: a defaulted second parameter
    (``lambda x, s=s: ...``) makes PySpark treat the lambda as the
    two-arg (element, index) form — ``s`` silently becomes the index
    Column and ``f"{s}|"`` stringifies it into a garbage seed that varies
    with PySpark's lambda-variable counter (found round 2: signatures were
    nondeterministic across invocations)."""
    prefix = f"{seed}|"
    return lambda x: F.md5(F.concat(F.lit(prefix), x).cast("binary"))


def _minhash_sig_col(sh_hashes):
    """Minhash signature: per seed s, min over shingle hashes of
    md5(s || '|' || hash).

    Min of fixed-width lowercase-hex strings == min of the underlying
    128-bit values, and md5 is bit-identical across engines — this is what
    makes the whole LSH pipeline oracle-checkable.
    """
    return F.array(
        *[F.array_min(F.transform(sh_hashes, _seeded_md5(s))) for s in range(_N_HASHES)]
    )


def _bands_col(sig):
    """Band keys: md5 over each band's concatenated signature rows."""
    r = _N_HASHES // _N_BANDS
    return F.array(
        *[
            F.md5(
                F.concat(*[F.element_at(sig, b * r + i + 1) for i in range(r)]).cast("binary")
            )
            for b in range(_N_BANDS)
        ]
    )


_LSH_MEMO: dict[tuple[str, str], dict[str, DataFrame]] = {}


def _lsh_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Cached LSH tables, memoized per (session, sf_dir) so repeated
    queries share ONE cached copy instead of re-caching per call:

      * ``sh``    — (doc_id, shingles): the 16-hex-char shingle digests.
        Cached because BOTH sides of the verify join and the signature
        chain read it; uncached, Spark recomputes the shingle kernel (the
        most expensive row-side expression in the repo) three times.
      * ``sig``   — (doc_id, sig): the 8-hash minhash signatures. Cached
        since r18 (VERDICT r17 #5): the estimator-calibration key joins
        the signature table to itself (doc_a/doc_b sides), so uncached it
        paid the 8×array_min(transform(md5)) kernel once per side on top
        of the bands build — three evaluations of the second-most
        expensive expression for one logical table.
      * ``bands`` — (doc_id, band_idx, band_hash): 4 short rows per doc
        (built FROM the cached sig, so the kernel runs once).

    At cluster scale these are the materialized signature tables every
    production LSH pipeline keeps (recomputing shingles per query is how
    100 TB dedup jobs triple their cost).

    Keyed by applicationId (stable, never reused within a machine epoch —
    unlike ``id(spark)``, which Python can recycle after GC and would then
    serve a DataFrame bound to a dead session); stale sessions' entries are
    evicted and unpersisted so the memo can't grow without bound."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir)
    if key not in _LSH_MEMO:
        for old_key in [k for k in _LSH_MEMO if k[0] != app_id]:
            for df in _LSH_MEMO.pop(old_key).values():
                try:
                    df.unpersist()
                except Exception:
                    pass  # old session already stopped; nothing to release
        d = load_table(spark, sf_dir, "documents").filter(
            F.size(F.split(F.col("text"), " ")) >= _SHINGLE
        )
        sh = d.select("doc_id", _shingle_hashes_col(_shingles_col()).alias("shingles")).cache()
        sig = sh.select("doc_id", _minhash_sig_col(F.col("shingles")).alias("sig")).cache()
        bands = sig.select(
            "doc_id", F.posexplode(_bands_col(F.col("sig"))).alias("band_idx", "band_hash")
        )
        _LSH_MEMO[key] = {"sh": sh, "sig": sig, "bands": bands.cache()}
    return _LSH_MEMO[key]


def _bands_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_tables(spark, sf_dir)["bands"]


def minhash_candidates(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = None
) -> DataFrame:
    """LSH candidate pairs: documents sharing at least one band bucket.

    Scale path: explode to (band_idx, band_hash, doc_id), shuffle on the
    bucket key, pair up ONLY within buckets. Bucket sizes are the skew knob
    — more bands/rows shrink buckets. ``bucket_cap`` is the degenerate-
    bucket guard: a bucket with b docs induces b(b-1)/2 pairs, so ONE hot
    bucket (empty docs, boilerplate) can dominate the whole job at corpus
    scale; buckets above the cap are dropped before pairing (the standard
    production trade: bounded work, documented recall loss —
    ``dedup_lsh_bucket_guard`` surfaces exactly what was dropped). The
    self-join reads the band table twice; without the cache Spark would
    recompute the whole shingle→signature chain per side.
    """
    bands = _bands_df(spark, sf_dir)
    if bucket_cap is not None:
        keep = (
            bands.groupBy("band_idx", "band_hash")
            .agg(F.count(F.lit(1)).alias("_bucket_n"))
            .filter(F.col("_bucket_n") <= bucket_cap)
            .select("band_idx", "band_hash")
        )
        # Bucket-key list is small (one row per surviving bucket) — AQE
        # turns this semi join into a broadcast at any realistic cap.
        bands = bands.join(keep, ["band_idx", "band_hash"], "left_semi")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


_ORACLE_BANDS_CTES = f"""
    -- sh/sig/bands are AS MATERIALIZED (r17): DuckDB inlines CTEs per
    -- reference, and every LSH oracle references sh/bands 2-4 times
    -- (cand joins bands to itself; the verify joins sh twice), so the
    -- whole shingle->signature pipeline re-ran per reference — and in
    -- the unrolled-iteration oracles (label propagation) the doubling
    -- compounded per step (measured 16.6 s -> 0.8 s at sf0.01).
    -- Materialization is purely an execution strategy: values unchanged.
    WITH sh AS MATERIALIZED (
        SELECT doc_id,
               list_transform(
                   list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - {_SHINGLE - 1}),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2])),
                   x -> substr(md5(x), 1, 16)) AS shingles
        FROM documents
        WHERE len(string_split(text, ' ')) >= {_SHINGLE}
    ), sig AS MATERIALIZED (
        SELECT doc_id, shingles,
               [{", ".join(f"list_min(list_transform(shingles, x -> md5('{s}|' || x)))" for s in range(_N_HASHES))}] AS sig
        FROM sh
    ), bands AS MATERIALIZED (
        SELECT doc_id, band_idx, md5(sig[2*band_idx + 1] || sig[2*band_idx + 2]) AS band_hash
        FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) b(band_idx)
    )"""


def _minhash_oracle(bucket_cap: int | None = None) -> str:
    """DuckDB oracle for the MinHash+LSH pipeline; with ``bucket_cap`` the
    candidate CTE drops over-cap buckets exactly like the Spark side."""
    if bucket_cap is None:
        cand = """, cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )"""
    else:
        cand = f""", bsz AS (
        SELECT band_idx, band_hash FROM bands
        GROUP BY band_idx, band_hash HAVING count(*) <= {bucket_cap}
    ), cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bsz k ON a.band_idx = k.band_idx AND a.band_hash = k.band_hash
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )"""
    return (
        _ORACLE_BANDS_CTES
        + cand
        + f"""
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                 (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
          (len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles))) >= {_JACCARD_THRESHOLD}
"""
    )


_MINHASH_ORACLE = _minhash_oracle()


def _verified_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None
) -> DataFrame:
    """Candidate pairs → exact-Jaccard ≥ threshold verification. Reads the
    memoized shingle table (both join sides + the band table derive from
    the one cached copy)."""
    sh = _lsh_tables(spark, sf_dir)["sh"]
    cand = minhash_candidates(spark, sf_dir, bucket_cap=bucket_cap)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, exact-Jaccard-verified.

    Pipeline: token 3-gram shingles → 8-hash minhash signature → 4 bands of
    2 rows → bucket-join for candidates → exact Jaccard ≥ 0.5 verify.
    Every stage is a scan or a key-shuffle; nothing is O(n²). The verify
    join re-reads shingle sets only for candidate docs (semi-join pruned).

    At 100 TB the tuning dials are (#hashes, #bands): P(candidate) =
    1-(1-j^r)^b — 4×2 bands catch j≥0.5 pairs with p≈0.6, chosen so the
    sf0.01 fixture yields a stable, verifiable pair set.
    """
    return _verified_pairs(spark, sf_dir, bucket_cap=None)


_BUCKET_CAP = 32


@query("dedup_minhash_lsh_capped", oracle=_minhash_oracle(bucket_cap=_BUCKET_CAP))
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh with the degenerate-bucket guard engaged
    (cap = 32 docs/bucket — generous for the fixture, so the pair set is
    identical to the uncapped run there; tests/test_dedup_guard.py asserts
    that). At corpus scale the cap is what bounds worst-case work: a
    boilerplate bucket of 1M docs would otherwise induce 5×10^11 candidate
    pairs on one reducer. Dropped buckets are observable via
    dedup_lsh_bucket_guard."""
    return _verified_pairs(spark, sf_dir, bucket_cap=_BUCKET_CAP)


@query(
    "dedup_lsh_bucket_guard",
    oracle=_ORACLE_BANDS_CTES
    + f"""
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN cnt > {_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped_buckets,
           CAST(sum(CASE WHEN cnt > {_BUCKET_CAP} THEN cnt * (cnt - 1) / 2 ELSE 0 END) AS BIGINT)
               AS dropped_pairs,
           CAST(sum(CASE WHEN cnt <= {_BUCKET_CAP} THEN cnt * (cnt - 1) / 2 ELSE 0 END) AS BIGINT)
               AS kept_pairs
    FROM (SELECT band_idx, band_hash, count(*) AS cnt
          FROM bands GROUP BY band_idx, band_hash)
    """,
)
def dedup_lsh_bucket_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucket-cap guard's observability face: how many LSH buckets
    exist, how many the cap would drop, and the induced candidate-pair
    counts on each side of the cap. This is the pre-flight skew check a
    100 TB dedup run reads BEFORE paying for the pair join (cf.
    ann_lsh_bucket_stats for the embedding-LSH analog)."""
    bands = _bands_df(spark, sf_dir)
    sizes = bands.groupBy("band_idx", "band_hash").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long")
    over = F.col("cnt") > _BUCKET_CAP
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(over, 1).otherwise(0)).alias("n_dropped_buckets"),
        F.sum(F.when(over, pairs).otherwise(0)).alias("dropped_pairs"),
        F.sum(F.when(~over, pairs).otherwise(0)).alias("kept_pairs"),
    )


# ---------------------------------------------------------------------------
# Tier 4: SimHash

_SIMHASH_BITS = 16


@query(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), hv AS (
        SELECT doc_id,
               {", ".join(
                   "list_sum(list_transform(toks, t -> CASE WHEN "
                   f"CAST(floor((strpos('0123456789abcdef', substr(md5(t), {b // 4 + 1}, 1)) - 1) / {2 ** (b % 4)}) AS INTEGER) % 2 = 1 "
                   f"THEN 1 ELSE -1 END)) AS s{b}"
                   for b in range(_SIMHASH_BITS)
               )}
        FROM tok
    )
    SELECT doc_id,
           CAST({" + ".join(f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(_SIMHASH_BITS))} AS BIGINT)
               AS simhash
    FROM hv
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint (16-bit demo width): per bit, majority vote of
    token-hash bits weighted ±1; near-dups share fingerprints (grouping) or
    differ in ≤k bits (banded lookup). Single scan + no shuffle at all for
    the fingerprint itself. Bits derive from md5 hex nibbles so Spark and
    DuckDB produce identical fingerprints. Production width is 64 bits; 16
    keeps the generated expression readable."""
    d = load_table(spark, sf_dir, "documents")
    bit_sums = [
        "aggregate(split(text, ' '), 0, (acc, t) -> acc + CASE WHEN "
        f"CAST(floor((instr('0123456789abcdef', substring(md5(CAST(t AS BINARY)), {b // 4 + 1}, 1)) - 1) / {2 ** (b % 4)}) AS INT) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SIMHASH_BITS)
    ]
    hv = d.selectExpr("doc_id", *bit_sums)
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
    )
    return hv.selectExpr("doc_id", f"CAST({fp} AS BIGINT) AS simhash")


# Production-width SimHash for the Manku-style hamming-distance lookup:
# 48 bits (bit 63 of a 64-bit fingerprint would overflow signed int64 in
# the 2^b sum both engines use, and 48 = 4 bands x 12 bits keeps the
# pigeonhole guarantee exact for hamming <= 3: 4 bands, at most 3
# differing bits => at least one band is untouched, so every qualifying
# pair is a band-bucket collision and the banded join loses nothing).
_SIMHASH_WIDE_BITS = 48
_SIMHASH_BANDS = 4
_SIMHASH_BAND_BITS = _SIMHASH_WIDE_BITS // _SIMHASH_BANDS  # 12
_SIMHASH_MAX_HAMMING = _SIMHASH_BANDS - 1  # 3

# Single-pass Spark fingerprint: md5 once per token, then one aggregate()
# fold accumulating all 48 per-bit +-1 sums as an array (vs the 16-bit
# specimen above, which re-traverses the token list per bit — fine at 16
# bits, 48x the scan cost at production width).
_WIDE_BITVEC = (
    f"transform(sequence(0, {_SIMHASH_WIDE_BITS - 1}), b -> CASE WHEN "
    "CAST(floor((instr('0123456789abcdef', "
    "substring(h, CAST(b div 4 AS INT) + 1, 1)) - 1) / power(2, b % 4)) "
    "AS INT) % 2 = 1 THEN 1 ELSE -1 END)"
)
_WIDE_SUMS = (
    "aggregate(transform(split(text, ' '), t -> md5(CAST(t AS BINARY))), "
    f"transform(sequence(0, {_SIMHASH_WIDE_BITS - 1}), b -> 0), "
    f"(acc, h) -> zip_with(acc, {_WIDE_BITVEC}, (a, x) -> a + x))"
)
_WIDE_FP = (
    f"aggregate(zip_with({_WIDE_SUMS}, sequence(0, {_SIMHASH_WIDE_BITS - 1}), "
    "(s, b) -> CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), b) "
    "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (a, x) -> a + x)"
)


@query(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), hv AS (
        SELECT doc_id,
               {", ".join(
                   "list_sum(list_transform(toks, t -> CASE WHEN "
                   f"CAST(floor((strpos('0123456789abcdef', substr(md5(t), {b // 4 + 1}, 1)) - 1) / {2 ** (b % 4)}) AS INTEGER) % 2 = 1 "
                   f"THEN 1 ELSE -1 END)) AS s{b}"
                   for b in range(_SIMHASH_WIDE_BITS)
               )}
        FROM tok
    ), fp AS (
        SELECT doc_id,
               CAST({" + ".join(f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(_SIMHASH_WIDE_BITS))} AS BIGINT)
                   AS simhash
        FROM hv
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS at production width: 48-bit fingerprints,
    banded hamming-distance lookup (Manku/Jain/Das Sarma, WWW'07). The
    fingerprint is one aggregate() fold per doc (md5 once per token, all
    48 bit-sums accumulated as an array in a single token-list pass);
    pairing splits the fingerprint into 4 non-overlapping 12-bit bands
    and self-joins on (band_id, band_val) — by pigeonhole, every pair
    within hamming <= 3 agrees on >= 1 band, so the banded join is
    lossless for the threshold while never forming the O(n^2) cross
    product. Candidates then pass an exact bit_count(a XOR b) <= 3
    verify. The oracle is deliberately the NAIVE all-pairs scan, so the
    driver differentially proves the banding recall claim, not just the
    arithmetic. Scale: band buckets shuffle by 12-bit value; on this
    synthetic low-entropy vocab the candidate set is ~5.5% of all pairs
    (fingerprints concentrate), on real text it is orders tighter; a
    production run widens to 64-bit fingerprints (two's-complement bit
    63) and applies the `dedup_lsh_bucket_guard` cap to degenerate
    buckets before the pair join."""
    d = load_table(spark, sf_dir, "documents")
    from presto_truffle_spark.cache import scoped_persist

    # Both sides of the band self-join consume the fingerprint table;
    # without a persist each side recomputes the md5-per-token 48-bit
    # fold (rescan audit: documents x2). Unconditional — no size gate —
    # because the recompute is CPU-bound hashing while the cached frame
    # is 16 bytes/doc; the cache write wins at every corpus size.
    fps = scoped_persist(
        spark,
        "dedup.simhash_hamming.fps",
        d.selectExpr("doc_id", f"{_WIDE_FP} AS simhash"),
    )
    band_structs = ", ".join(
        f"struct({i} AS band_id, "
        f"(shiftright(simhash, {i * _SIMHASH_BAND_BITS}) & "
        f"{(1 << _SIMHASH_BAND_BITS) - 1}) AS band_val)"
        for i in range(_SIMHASH_BANDS)
    )
    bands = fps.selectExpr("doc_id", "simhash", f"inline(array({band_structs}))")
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        "band_id",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        "band_id",
        "band_val",
    )
    cand = (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.expr("bit_count(sim_a ^ sim_b)").cast("int")
        )
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - {_SHINGLE - 1}),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i+1] || ' ' ||
                        string_split(text, ' ')[i+2])) AS shingles
        FROM documents
        WHERE lang = 'de' AND len(string_split(text, ' ')) >= {_SHINGLE}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                 (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.shingles, b.shingles)) > 0
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise n-gram Jaccard over one language partition (the 'de'
    slice), via an INVERTED INDEX: explode distinct shingles, equi-join
    postings on the shingle, and the per-(a,b) match count IS the
    intersection size (shingles are distinct per doc). Emits exactly the
    pairs with intersection ≥ 1 — identical output to the all-pairs
    formulation, but the join is a hash join on the shingle, linear in
    postings + co-occurring pairs, with no nested-loop theta join
    (the r4 rewrite; the previous doc_a < doc_b cross form measured ~6 s
    warm at sf0.1 vs ~1 s for this one and is O(n²) in the scope size).
    The per-pair ``array_intersect`` kernel remains the in-bucket verify
    primitive inside dedup_minhash_lsh, where candidates are already
    paired."""
    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("lang") == "de") & (F.size(F.split(F.col("text"), " ")) >= _SHINGLE)
    )
    sh = d.select("doc_id", _shingles_col().alias("shingles"))
    ex = sh.select(
        "doc_id", F.size("shingles").alias("sz"), F.explode("shingles").alias("s")
    )
    a = ex.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), F.col("s")
    )
    b = ex.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), F.col("s")
    )
    pairs = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return pairs.select(
        "doc_a", "doc_b", F.round(F.col("inter") / union, 6).alias("jaccard")
    )


_CHUNK = 16  # tokens per fingerprint chunk


@query(
    "dedup_chunk_fingerprint",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS t FROM documents
    ), idx AS (
        SELECT doc_id, t,
               unnest(generate_series(0, CAST(len(t) // {_CHUNK} AS BIGINT) - 1)) AS i
        FROM toks
    ), chunks AS (
        SELECT doc_id,
               md5(array_to_string(t[(i*{_CHUNK}+1):(i*{_CHUNK}+{_CHUNK})], ' ')) AS h
        FROM idx
    ), dup AS (
        SELECT h FROM chunks GROUP BY h HAVING count(*) > 1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN h IN (SELECT h FROM dup) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_chunks,
           floor(sum(CASE WHEN h IN (SELECT h FROM dup) THEN 1 ELSE 0 END)
                 / count(*) * 1000000 + 0.5) / 1000000 AS dup_frac
    FROM chunks
    GROUP BY doc_id
    """,
)
def dedup_chunk_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile via fixed-stride chunk
    fingerprints (the scalable stand-in for Lee et al.'s suffix-array
    "Deduplicating Training Data Makes Language Models Better": each doc's
    token stream is cut into aligned 16-token chunks, chunks are md5'd,
    and a chunk appearing in ≥2 places anywhere in the corpus marks both
    spans as duplicated text). Output per doc: chunk count, duplicated-
    chunk count, duplicated fraction — the C4/RefinedWeb-style signal for
    "this doc is mostly boilerplate copied elsewhere".

    Scale shape: the chunk table is corpus_tokens/16 rows of (doc_id,
    16-byte digest) — linear, never the text itself; the dup-set groupBy
    is map-side combinable; the chunk⋈dup join shuffles on the digest
    (uniformly distributed by construction — no skew, no broadcast of a
    corpus-sized set). A suffix array finds duplicates at ANY alignment
    but needs a global sort of every suffix; aligned chunks trade recall
    at boundaries (a duplicate run < 2×16−1 tokens can straddle a cut)
    for a sort-free two-shuffle plan — the standard production trade.
    """
    d = load_table(spark, sf_dir, "documents")
    # Materialize the token array as a projected column BEFORE the
    # per-chunk slice lambda: slicing the raw split() expression inside
    # transform(sequence(...)) re-runs the split per chunk — O(n²/16)
    # per document, a per-row straggler on long documents at scale.
    t = (
        d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .filter(F.size("toks") >= _CHUNK)
        .withColumn("n_chunks", F.floor(F.size("toks") / F.lit(_CHUNK)).cast("int"))
    )
    hashes = F.transform(
        F.sequence(F.lit(0), F.col("n_chunks") - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i * _CHUNK + 1, _CHUNK))),
    )
    chunks = t.select("doc_id", F.explode(hashes).alias("h"))
    dup = (
        chunks.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") > 1)
        .select("h", F.lit(1).alias("is_dup"))
    )
    return (
        chunks.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.coalesce("is_dup", F.lit(0))).alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            # floor(x*1e6+0.5)/1e6 — the repo's cross-engine rounding convention
            (
                F.floor(
                    F.col("n_dup_chunks") / F.col("n_chunks") * 1_000_000 + F.lit(0.5)
                )
                / 1_000_000
            ).alias("dup_frac"),
        )
    )


# Tier 6: winnowing fingerprints (the MOSS local-fingerprinting scheme:
# Schleimer, Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
# Fingerprinting", SIGMOD 2003). Guarantees any shared run of
# _SHINGLE + _WIN - 1 = 6 consecutive tokens yields at least one shared
# fingerprint — the detection floor LSH (a global-similarity method)
# cannot promise for short local overlaps.
_WIN = 4  # fingerprint window: one min-hash kept per 4 consecutive shingles
_WINNOW_HOT_CAP = 50  # fingerprints shared by more docs are dropped (boilerplate)
_WINNOW_MIN_SHARED = 2  # pairs must share at least this many fingerprints


@query(
    "dedup_winnowing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n
        FROM documents
        WHERE len(string_split(text, ' ')) >= {_SHINGLE + _WIN - 1}
    ),
    hashes AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, n - {_SHINGLE - 1}),
                   i -> substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                               1, 16)) AS h,
               n - {_SHINGLE - 1} AS m
        FROM toks
    ),
    fps AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, m - {_WIN - 1}),
                   i -> least(h[i], h[i+1], h[i+2], h[i+3]))) AS fp
        FROM hashes
    ),
    posting AS (SELECT doc_id, unnest(fp) AS f FROM fps),
    cold AS (
        SELECT f FROM posting GROUP BY f
        HAVING count(*) <= {_WINNOW_HOT_CAP}
    ),
    p AS (SELECT doc_id, f FROM posting JOIN cold USING (f))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_shared_fps
    FROM p a JOIN p b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {_WINNOW_MIN_SHARED}
    """,
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup pairs: per document, hash every token 3-gram,
    keep the MINIMUM hash of each sliding 4-shingle window (the winnowing
    fingerprint set), and pair documents sharing ≥ 2 fingerprints after
    dropping boilerplate fingerprints shared by > 50 docs.

    Winnowing's guarantee is LOCAL: any 6-token run shared verbatim
    between two documents produces a shared fingerprint, so it catches
    partial-overlap/quote-level duplication that global MinHash similarity
    dilutes away — the complementary detector to dedup_minhash_lsh, at
    ~1/4 the index size of full shingle fingerprinting (one min per
    window). The sliding min is the same linear slice+zip_with kernel as
    the shingle builder (never transform(sequence) — that form re-splits
    per element, O(n²/doc)); hot-fingerprint capping bounds the posting
    self-join exactly like the LSH bucket guard. md5-prefix min over
    fixed-width hex ≡ numeric min on both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    # Each derivation (toks → grams → hashes → window mins) is materialized
    # as a projected column before the next stage references it: slicing a
    # raw expression re-evaluates its whole subtree per reference, so the
    # four h-slices of an unmaterialized `hashes` would re-md5 every
    # shingle 4× (and re-split the text under that) — measured ~4.4 s warm
    # at sf0.1 in that form vs ~2.4 s staged.
    t = (
        d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= _SHINGLE + _WIN - 1)
    )
    m = F.col("n") - (_SHINGLE - 1)  # number of shingles
    grams = F.zip_with(
        F.zip_with(
            F.slice("toks", F.lit(1), m),
            F.slice("toks", F.lit(2), m),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
        F.slice("toks", F.lit(3), m),
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    g = t.select(
        "doc_id",
        F.transform(grams, lambda gr: F.substring(F.md5(gr), 1, 16)).alias("hashes"),
    ).withColumn("m2", F.size("hashes") - (_WIN - 1))  # number of windows
    mins = F.zip_with(
        F.zip_with(
            F.slice("hashes", F.lit(1), F.col("m2")),
            F.slice("hashes", F.lit(2), F.col("m2")),
            lambda x, y: F.least(x, y),
        ),
        F.zip_with(
            F.slice("hashes", F.lit(3), F.col("m2")),
            F.slice("hashes", F.lit(4), F.col("m2")),
            lambda x, y: F.least(x, y),
        ),
        lambda xy, zw: F.least(xy, zw),
    )
    posting = g.select("doc_id", F.explode(F.array_distinct(mins)).alias("f"))
    cold = (
        posting.groupBy("f")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") <= _WINNOW_HOT_CAP)
        .select("f")
    )
    p = posting.join(cold, "f")
    pa = p.select(F.col("doc_id").alias("doc_a"), "f")
    pb = p.select(F.col("doc_id").alias("doc_b"), "f")
    return (
        pa.join(pb, "f")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .where(F.col("n_shared_fps") >= _WINNOW_MIN_SHARED)
    )


@query(
    "dedup_ngram_containment",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - {_SHINGLE - 1}),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i+1] || ' ' ||
                        string_split(text, ' ')[i+2])) AS shingles
        FROM documents
        WHERE lang = 'fr' AND len(string_split(text, ' ')) >= {_SHINGLE}
    )
    SELECT doc_a, doc_b, containment FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                     least(len(a.shingles), len(b.shingles)), 6) AS containment
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    WHERE containment >= 0.05
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram CONTAINMENT (|A∩B| / min(|A|,|B|)) — the asymmetric twin
    of Jaccard that catches what Jaccard structurally misses: a short
    document embedded verbatim inside a much longer one (boilerplate
    wrapping, quote-with-commentary, template stuffing) scores
    containment ≈ 1 while its Jaccard stays near |A|/|B| ≈ 0. Standard
    practice in training-data dedup is to run BOTH metrics; this is the
    missing half.

    Same inverted-index shape as dedup_ngram_jaccard (explode distinct
    shingles, hash-join postings, per-pair match count = intersection
    size), so the pair space stays postings + co-occurring pairs — never
    n². Only the normalizer changes (min size vs union), plus a
    threshold (0.05 here — the synthetic fixture's vocabulary is tiny,
    so real-corpus thresholds like 0.5 match nothing; the cut still
    drops ~90% of co-occurring pairs) because weak containment, unlike
    weak overlap, is ubiquitous among same-language docs and would
    drown the signal.
    Scoped to the 'fr' slice — a different partition than jaccard's
    'de', widening fixture coverage."""
    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("lang") == "fr") & (F.size(F.split(F.col("text"), " ")) >= _SHINGLE)
    )
    sh = d.select("doc_id", _shingles_col().alias("shingles"))
    ex = sh.select(
        "doc_id", F.size("shingles").alias("sz"), F.explode("shingles").alias("s")
    )
    a = ex.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), F.col("s")
    )
    b = ex.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), F.col("s")
    )
    pairs = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cont = F.round(F.col("inter") / F.least("sz_a", "sz_b"), 6)
    return (
        pairs.select("doc_a", "doc_b", cont.alias("containment"))
        .filter(F.col("containment") >= 0.05)
    )


_INCR_ORACLE = (
    _ORACLE_BANDS_CTES
    + f""", cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS src, b.doc_id AS doc_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND b.doc_id % 4 = 0 AND a.doc_id <> b.doc_id
         AND (a.doc_id % 4 <> 0 OR a.doc_id < b.doc_id)
    ), ver AS (
        SELECT c.doc_id,
               round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                     (len(sa.shingles) + len(sb.shingles)
                      - len(list_intersect(sa.shingles, sb.shingles))), 6)
                   AS j
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.src
        JOIN sh sb ON sb.doc_id = c.doc_id
        WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
              (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles)))
              >= {_JACCARD_THRESHOLD}
    ), agg AS (
        SELECT doc_id, count(*) AS n, max(j) AS maxj FROM ver GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_dup_sources,
           a.maxj AS max_jaccard,
           CAST(CASE WHEN a.n IS NULL THEN 1 ELSE 0 END AS INT) AS is_new
    FROM (SELECT doc_id FROM sh WHERE doc_id % 4 = 0) s
    LEFT JOIN agg a ON a.doc_id = s.doc_id
"""
)


@query("dedup_incremental_minhash", oracle=_INCR_ORACLE)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup dedup — the shape every production corpus
    pipeline actually runs: a small INCOMING batch (here every 4th
    doc_id, deterministically) checked against the already-deduped
    HISTORICAL corpus plus earlier docs of its own batch, never
    existing×existing (those pairs were settled in prior runs). Each
    incoming doc gets its duplicate-source count, its best verified
    Jaccard, and the keep/drop decision (``is_new``).

    Scale posture — the reason incremental dedup is cheap: the incoming
    band side is batch-bounded in production (MBs where the historical
    band index is TBs), so candidate generation is one scan of the
    historical index with a map-side hash probe of the broadcast batch —
    no self-join of the corpus, no shuffle of the big side, cost
    O(|incoming| × bucket overlap). In THIS fixture the incoming side
    derives from `documents` and therefore grows with SF, so per the r4
    broadcast doctrine the plan carries NO hard hint and lets AQE's
    runtime size check make the call (it broadcasts at every realistic
    batch size); a production deployment with a genuinely bounded batch
    marks it broadcast explicitly. The within-batch half
    (earlier-incoming × later-incoming, a.doc_id < b.doc_id) rides the
    same probe. Exact-Jaccard verification then touches only candidate
    pairs' shingle rows. At 100 TB the historical bands/shingles are the
    persisted index tables `_lsh_tables` models (production keeps them
    materialized across runs — the ``ann_ivfpq_index_build`` build/query
    discipline, applied to dedup)."""
    tables = _lsh_tables(spark, sf_dir)
    bands, sh = tables["bands"], tables["sh"]
    incoming = F.col("doc_id") % 4 == 0
    inc_bands = bands.filter(incoming)
    a, b = bands.alias("a"), inc_bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (
                (F.col("a.doc_id") % 4 != 0)
                | (F.col("a.doc_id") < F.col("b.doc_id"))
            ),
        )
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("src"), F.col("shingles").alias("sh_a"))
    sb = sh.select("doc_id", F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    ver = (
        cand.join(sa, "src")
        .join(sb, "doc_id")
        .filter(jac >= _JACCARD_THRESHOLD)
        .select("doc_id", F.round(jac, 6).alias("j"))
    )
    agg = ver.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_sources"),
        F.max("j").alias("max_jaccard"),
    )
    return (
        sh.filter(incoming)
        .select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_sources", F.lit(0).cast("long")).alias(
                "n_dup_sources"
            ),
            "max_jaccard",
            F.when(F.col("n_dup_sources").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_new"),
        )
    )


_SAMPLE_NIBBLE = "0123"  # md5(text) first hex char in this set => 4/16 sample


@query(
    "dedup_rate_estimate",
    oracle=f"""
    WITH full_groups AS (
        SELECT text, count(*) AS cnt FROM documents GROUP BY text
    ), full_stats AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n_docs,
               CAST(sum(cnt) - count(*) AS BIGINT) AS dup_docs
        FROM full_groups
    ), samp AS (
        SELECT text FROM documents
        WHERE substr(md5(text), 1, 1) IN
              ({", ".join(f"'{c}'" for c in _SAMPLE_NIBBLE)})
    ), samp_groups AS (
        SELECT text, count(*) AS cnt FROM samp GROUP BY text
    ), samp_stats AS (
        SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_sampled,
               CAST(coalesce(sum(cnt) - count(*), 0) AS BIGINT)
                   AS dup_docs_sampled
        FROM samp_groups
    )
    SELECT s.n_sampled, s.dup_docs_sampled,
           f.n_docs, f.dup_docs,
           -- nullif: an EMPTY corpus (or empty sample) has no defined
           -- rate — NULL, not a divide-by-zero (Spark ANSI raises)
           floor(s.dup_docs_sampled * 1.0 / nullif(s.n_sampled, 0)
                 * 1000000 + 0.5) / 1000000 AS dup_rate_est,
           floor(f.dup_docs * 1.0 / nullif(f.n_docs, 0)
                 * 1000000 + 0.5) / 1000000 AS dup_rate_actual
    FROM samp_stats s CROSS JOIN full_stats f
    """,
)
def dedup_rate_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled duplicate-rate audit — the cheap health check a 100 TB
    corpus runs continuously instead of a full dedup pass. The sample is
    drawn by CONTENT hash (md5(text) first nibble in a 4/16 set), not by
    row: content-hash sampling keeps every duplicate GROUP intact or
    excludes it whole, so the in-sample duplicate fraction is an
    unbiased estimator of the corpus duplicate fraction — a row-random
    sample would break groups and underestimate quadratically (two dups
    both land in a p-sample with probability p^2). The fixture query
    also computes the true full-corpus rate next to the estimate so the
    estimator's error is measured, not assumed; at scale only the
    sample half runs (one 25%-selectivity scan + a grouped count on 1/4
    of the text space). Duplicate docs per group = cnt - 1 (the
    canonical survivor is not a duplicate). Fixture engagement, probed:
    sf0.01 has zero exact duplicates (est == actual == 0, arithmetic
    proven but inert); sf0.1 has 8 duplicate docs (rate 0.0016), where
    the 4/16 content sample may legitimately estimate 0 if no dup group
    hashes into it — exactly the variance a 25% sample has at n=8, which
    is why production runs widen the nibble set as the corpus rate
    drops."""
    d = load_table(spark, sf_dir, "documents")
    full_groups = d.groupBy("text").agg(F.count(F.lit(1)).alias("cnt"))
    full_stats = full_groups.agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        (F.sum("cnt") - F.count(F.lit(1))).cast("long").alias("dup_docs"),
    )
    samp_groups = (
        d.filter(
            F.substring(F.md5(F.col("text").cast("binary")), 1, 1).isin(
                *list(_SAMPLE_NIBBLE)
            )
        )
        .groupBy("text")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    samp_stats = samp_groups.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_sampled"),
        F.coalesce(F.sum("cnt") - F.count(F.lit(1)), F.lit(0))
        .cast("long")
        .alias("dup_docs_sampled"),
    )
    r6 = lambda col: F.floor(col * 1_000_000 + F.lit(0.5)) / 1_000_000  # noqa: E731
    return samp_stats.crossJoin(F.broadcast(full_stats)).select(
        "n_sampled",
        "dup_docs_sampled",
        "n_docs",
        "dup_docs",
        r6(
            F.col("dup_docs_sampled") * F.lit(1.0)
            / F.nullif(F.col("n_sampled"), F.lit(0))
        ).alias("dup_rate_est"),
        r6(
            F.col("dup_docs") * F.lit(1.0) / F.nullif(F.col("n_docs"), F.lit(0))
        ).alias("dup_rate_actual"),
    )


@query(
    "dedup_cross_source_matrix",
    oracle="""
    WITH keyed AS (
        SELECT array_to_string(string_split(text, ' ')[1:8], ' ') AS k,
               source,
               CAST(count(*) AS BIGINT) AS c
        FROM documents
        GROUP BY 1, 2
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_keys,
           CAST(sum(a.c * b.c) AS BIGINT) AS n_doc_pairs
    FROM keyed a JOIN keyed b
      ON a.k = b.k AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication provenance matrix — which pairs of
    ingest sources share content, and how much. The governance view a
    training-data owner reads before weighting sources: heavy off-
    diagonal mass means two feeds mirror each other and their combined
    weight double-counts. Keyed on the leading 8-token shingle (the
    mirror-detection shortcut — syndicated copies keep their opening
    line), the same fingerprint family as dedup_chunk_fingerprint;
    swapping in the full-content hash (dedup_exact's key) is a
    one-line parameter change — the fixture only collides cross-source
    at the shingle level at sf0.01 (22 shared keys; 227 at sf0.1),
    which is exactly the sensitivity ordering real feeds show.

    Scale shape: the corpus folds FIRST to (key, source) counts — one
    map-combinable groupBy, output bounded by keys x sources — and the
    pair join runs per key over the per-key SOURCE lists (<= 20 sources
    here; bounded by the source catalog, never corpus-sized), the same
    bounded-block discipline as join_market_basket_pairs with the
    fingerprint as the block. A pathological boilerplate key (every
    source shares it) costs sources² per key, not corpus² — and the
    dedup_lsh_bucket_guard cap applies verbatim if the source catalog
    grows. n_doc_pairs multiplies per-source counts, so the matrix
    weighs mirrored VOLUME, not just incidence. The (key, source)
    count table is scoped_persisted — a REDUCED intermediate probed by
    both join sides; without the cache each side re-ran the corpus
    scan+fold (rescan-audit rule, SCALING.md r5)."""
    from presto_truffle_spark.cache import scoped_persist

    keyed = scoped_persist(spark, "dedup.cross_source_matrix.keyed", (
        load_table(spark, sf_dir, "documents")
        .select(
            F.array_join(F.slice(F.split("text", " "), 1, 8), " ").alias("k"),
            "source",
        )
        .groupBy("k", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    ))
    a = keyed.select(
        "k", F.col("source").alias("source_a"), F.col("c").alias("ca")
    )
    b = keyed.select(
        "k", F.col("source").alias("source_b"), F.col("c").alias("cb")
    )
    return (
        a.join(b, "k")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_keys"),
            F.sum(F.col("ca") * F.col("cb")).cast("long").alias("n_doc_pairs"),
        )
    )


@query(
    "dedup_minhash_estimator_error",
    oracle=_ORACLE_BANDS_CTES
    + f""", cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_filter(generate_series(1, {_N_HASHES}),
                                i -> sa.sig[i] = sb.sig[i]))
                * 1000000 // {_N_HASHES} AS BIGINT) AS est_ppm,
           CAST(len(list_intersect(ha.shingles, hb.shingles)) * 1000000
                // (len(ha.shingles) + len(hb.shingles)
                    - len(list_intersect(ha.shingles, hb.shingles)))
                AS BIGINT) AS true_ppm
    FROM cand c
    JOIN sig sa ON c.doc_a = sa.doc_id
    JOIN sig sb ON c.doc_b = sb.doc_id
    JOIN sh ha ON c.doc_a = ha.doc_id
    JOIN sh hb ON c.doc_b = hb.doc_id
    """,
)
def dedup_minhash_estimator_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash estimator calibration — for every LSH candidate pair,
    the SIGNATURE-estimated Jaccard (matching components / 8) next to
    the EXACT shingle Jaccard, both in integer ppm. This measures the
    estimator the whole banding scheme's P(candidate) = 1-(1-j^r)^b
    math assumes: with only 8 hashes the estimate is quantized to
    eighths (stddev ~ sqrt(j(1-j)/8) ≈ 0.17 at j=0.5), which is WHY
    the pipeline verifies candidates with exact Jaccard instead of
    trusting the signature — this query is the evidence for that
    design choice, measured on the pipeline's own candidate stream.

    Everything is integer arithmetic on bit-identical md5-derived
    values (the property that makes the LSH chain oracle-checkable):
    component matches are string equality over fixed-width hex,
    true Jaccard is inter*1e6 div union — no FP anywhere. Plan: the
    memoized signature/shingle tables probe the candidate pairs
    (semi-join-pruned, candidate-cardinality), nothing corpus²."""
    tables = _lsh_tables(spark, sf_dir)
    sh = tables["sh"]
    # The memoized signature table (r18): both join sides below read it,
    # so the 8-hash kernel runs once instead of once per side (guide §5).
    sig = tables["sig"]
    cand = minhash_candidates(spark, sf_dir, bucket_cap=None)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    ha = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    hb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    n_match = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (n_match * 1000000)
            .cast("long")
            .alias("_nm")
            ,
            inter.alias("_i"),
            union.alias("_u"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"_nm div {_N_HASHES}").cast("long").alias("est_ppm"),
            F.expr("CAST(_i AS BIGINT) * 1000000 div _u")
            .cast("long")
            .alias("true_ppm"),
        )
    )


@query(
    "dedup_prefix_filter_join",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               list_transform(
                   list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - {_SHINGLE - 1}),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2])),
                   x -> substr(md5(x), 1, 16)) AS shingles
        FROM documents
        WHERE len(string_split(text, ' ')) >= {_SHINGLE}
    ), toks AS (
        SELECT doc_id, unnest(shingles) AS tok FROM sh
    ), sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM toks GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(i * 1.0 / (s1.sz + s2.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes s1 ON doc_a = s1.doc_id
    JOIN sizes s2 ON doc_b = s2.doc_id
    WHERE i * 1.0 / (s1.sz + s2.sz - i) >= {_JACCARD_THRESHOLD}
    """,
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (Jaccard >= 0.5 over shingle
    digests) via prefix filtering — the AllPairs/PPJoin candidate scheme
    (Bayardo et al., WWW'07; Xiao et al., ICDE'08) that complements the
    probabilistic MinHash-LSH path: LSH trades recall for bucket count;
    prefix filtering is LOSSLESS, and this oracle proves it — the DuckDB
    side is the brute-force definition (every shared-token pair, exact
    Jaccard), so any pair the prefix filter dropped would hash-mismatch.

    The filter: order each document's shingles by ascending global
    document-frequency (ties by digest — any per-doc ordering consistent
    with ONE global total order works); a partner with Jaccard >= t must
    share a token within the first |x| - ceil(t*|x|) + 1 tokens of each
    side, so only those PREFIX tokens are indexed for the self-join.
    Rare-token-first ordering makes prefix buckets small by construction
    (the hot boilerplate shingles land in the suffix and are never
    joined on) — the same skew problem LSH solves with bucket caps,
    solved here by ordering instead. The size filter (t*|x| <= |y|)
    prunes survivors before verification; verification itself is an
    array_intersect over the two shingle arrays joined to the
    candidate pairs — O(candidates), never a corpus self-join.

    Scale shape: one DF-count shuffle (token -> document frequency), one
    per-doc rank window (partitioned by doc_id, ~20 rows each), one
    equi-join on prefix tokens, then candidate-bounded verification.
    Measured (BASELINE.md, prefix-filter row): the prefix index carries
    51% of tokens; candidates 773 vs 11,533 naive at sf0.01 (15x) and
    310,161 vs 1,130,536 at sf0.1 (3.6x) — the naive space never
    materializes, but at t=0.5 the prefix is ~half of each document so
    the cut is modest; the filter tightens rapidly as t rises (prefix
    length |x| - ceil(t|x|) + 1), and the LSH family is the
    bounded-work alternative when approximate recall is acceptable
    (BASELINE.md records the tradeoff row). Reads the memoized cached shingle
    table shared with the LSH family."""
    sh = _lsh_tables(spark, sf_dir)["sh"]
    t = _JACCARD_THRESHOLD
    toks = sh.select("doc_id", F.explode("shingles").alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        toks.join(freq, "tok")
        .withColumn("sz", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("doc_id").orderBy("df", "tok")),
        )
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
    ).select("doc_id", "tok", "sz")
    # ~half the token table, 3 narrow columns, consumed by BOTH sides of
    # the candidate self-join — unpersisted, the df-count join and two
    # rank windows would execute twice (rescan audit).
    from presto_truffle_spark.cache import scoped_persist

    prefix = scoped_persist(spark, "dedup.prefix_filter.prefix", prefix)
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= F.lit(t) * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sha"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size("sha") + F.size("shb") - inter
    jac = inter * F.lit(1.0) / union
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= t)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


_SNM_WINDOW = 5  # each doc compared with its w-1 = 4 sort-successors
_SNM_KEY_LEN = 24  # chars of lower(text) used as the SNM sort key
_SNM_PARTS = 32  # range partitions for the distributed global rank


def _snm_offsets(counts: DataFrame) -> DataFrame:
    """Exclusive prefix sum of per-partition counts → (pid, off).

    The input is bounded by the partition COUNT (≤ _SNM_PARTS = 32
    rows) — partition-count METADATA, never corpus volume, the same
    cardinality RangePartitioner pulls to the driver to pick range
    boundaries. It runs as a single-partition window, whitelisted in
    tools/plan_audit.py with that bound. Lazy by design (ADVICE r11):
    the earlier driver-side .collect() spelling made merely BUILDING an
    SNM plan execute a corpus-scale count+persist job, contradicting
    plan_audit's "plans only — no execution" contract; this keeps every
    registered op's DataFrame construction action-free."""
    w_off = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    return counts.select(
        "pid",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
        .cast("long")
        .alias("off"),
    )


@query(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               substr(lower(text), 1, {_SNM_KEY_LEN}) AS skey,
               list_transform(
                   list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - {_SHINGLE - 1}),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2])),
                   x -> substr(md5(x), 1, 16)) AS shingles
        FROM documents
        WHERE len(string_split(text, ' ')) >= {_SHINGLE}
    ), sorted AS (
        SELECT doc_id, shingles,
               row_number() OVER (ORDER BY skey, doc_id) AS rn
        FROM sh
    ), pairs AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(b.rn - a.rn AS BIGINT) AS neighbor_dist,
               len(list_intersect(a.shingles, b.shingles)) * 1.0 /
               (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))) AS jacc
        FROM sorted a JOIN sorted b
          ON b.rn BETWEEN a.rn + 1 AND a.rn + {_SNM_WINDOW - 1}
    )
    SELECT doc_a, doc_b, neighbor_dist, round(jacc, 6) AS jaccard
    FROM pairs WHERE jacc >= {_JACCARD_THRESHOLD}
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-Neighborhood Method (SNM) dedup — the THIRD candidate-
    generation discipline alongside MinHash-LSH (probabilistic buckets)
    and prefix filtering (lossless inverted index): sort the corpus ONCE
    by a cheap blocking key (first 24 chars of the lowercased text) and
    compare each document only with its w−1 = 4 sort-successors
    (Hernández & Stolfo, SIGMOD'95). O(n·w) comparisons instead of
    O(n²), at the cost of recall that depends entirely on whether true
    duplicates sort adjacently.

    Measured recall on the fixture (probed before registration, truth =
    the prefix-filter study's brute-force qualifying pairs at Jaccard
    ≥ 0.5 over the same shingle sets): 25/25 at sf0.01 and 256/256 at
    sf0.1 — the corpus's template-replicated near-dups share their
    opening characters, the regime SNM is designed for; edits in the
    first 24 chars would break adjacency (the honest failure mode —
    multi-pass SNM with rotated keys is the classic mitigation and the
    `rewrite` family's salting precedent would apply per pass).

    Spark shape — a DISTRIBUTED global rank, no single-partition
    window (the r10 lead()-over-unpartitioned-sort draft moved the
    whole corpus to one task; fixed per VERDICT r10 #2):
    `repartitionByRange(skey, doc_id)` gives an order-preserving range
    partitioning; a per-partition row_number (window partitioned by
    `spark_partition_id()`) plus a cumulative offset per partition
    (a lazy exclusive prefix sum over the ≤ _SNM_PARTS-row count
    table — partition-count metadata, the same scale the
    RangePartitioner's boundary sample already is; see _snm_offsets)
    stitch an exact consecutive global rank. Each doc then EXPLODES its w−1
    successor ranks and equi-joins back on rank — a plain shuffled
    hash join that handles partition skew and sub-window partitions
    with no boundary-replication bookkeeping. Verification is the same
    exact-Jaccard kernel the LSH and prefix families use, over the
    memoized shingle digests."""
    sh = _lsh_tables(spark, sf_dir)["sh"]
    keys = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(F.lower(F.col("text")), 1, _SNM_KEY_LEN).alias("skey"),
    )
    keyed = sh.join(keys, "doc_id")
    from presto_truffle_spark.cache import scoped_persist

    ranged = keyed.repartitionByRange(
        _SNM_PARTS, "skey", "doc_id"
    ).withColumn("pid", F.spark_partition_id())
    # pid is stable only within one materialization — persist before
    # the two consumers (counts, main) fork.
    ranged = scoped_persist(spark, "dedup.snm.ranged", ranged)
    local_rn = F.row_number().over(
        W.partitionBy("pid").orderBy("skey", "doc_id")
    )
    # Cumulative partition offsets: the count table is bounded by the
    # partition COUNT (≤ _SNM_PARTS rows), never by the corpus — an
    # exclusive prefix sum over partition-count METADATA (the same
    # cardinality RangePartitioner itself pulls to the driver to pick
    # boundaries). Computed LAZILY (ADVICE r11): the earlier
    # driver-side .collect() spelling executed a corpus-scale count
    # job at plan-CONSTRUCTION time, which broke plan_audit's
    # "plans only — no execution" claim.
    offsets = _snm_offsets(
        ranged.groupBy("pid").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
    )
    ranked = (
        ranged.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            "shingles",
            "skey",
            "pid",
            "off",
        )
        .select(
            "doc_id",
            "shingles",
            (local_rn + F.col("off")).cast("long").alias("rn"),
        )
    )
    ranked = scoped_persist(spark, "dedup.snm.ranked", ranked)
    a_side = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _SNM_WINDOW)])
        ).alias("neighbor_dist"),
        F.col("rn"),
    ).select(
        "doc_a",
        "sh_a",
        F.col("neighbor_dist").cast("long").alias("neighbor_dist"),
        (F.col("rn") + F.col("neighbor_dist")).alias("rn_b"),
    )
    b_side = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("rn").alias("rn_b"),
    )
    pairs = a_side.join(b_side, "rn_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return pairs.filter(jac >= _JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", "neighbor_dist", F.round(jac, 6).alias("jaccard")
    )


@query(
    "dedup_snm_multipass",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, lower(text) AS lt,
               list_transform(
                   list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - {_SHINGLE - 1}),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2])),
                   x -> substr(md5(x), 1, 16)) AS shingles
        FROM documents
        WHERE len(string_split(text, ' ')) >= {_SHINGLE}
    ), keys AS (
        SELECT doc_id, shingles,
               substr(lt, 1, {_SNM_KEY_LEN}) AS k1,
               substr(lt, greatest(1, len(lt) - {_SNM_KEY_LEN - 1}),
                      {_SNM_KEY_LEN}) AS k2,
               substr(lt, greatest(1, len(lt) // 2 - {_SNM_KEY_LEN // 2 - 1}),
                      {_SNM_KEY_LEN}) AS k3
        FROM sh
    ),
    s1 AS (SELECT doc_id, row_number() OVER (ORDER BY k1, doc_id) AS rn
           FROM keys),
    s2 AS (SELECT doc_id, row_number() OVER (ORDER BY k2, doc_id) AS rn
           FROM keys),
    s3 AS (SELECT doc_id, row_number() OVER (ORDER BY k3, doc_id) AS rn
           FROM keys),
    cand AS (
        SELECT least(a.doc_id, b.doc_id) AS doc_a,
               greatest(a.doc_id, b.doc_id) AS doc_b
        FROM s1 a JOIN s1 b ON b.rn BETWEEN a.rn + 1 AND a.rn + {_SNM_WINDOW - 1}
        UNION ALL
        SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
        FROM s2 a JOIN s2 b ON b.rn BETWEEN a.rn + 1 AND a.rn + {_SNM_WINDOW - 1}
        UNION ALL
        SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
        FROM s3 a JOIN s3 b ON b.rn BETWEEN a.rn + 1 AND a.rn + {_SNM_WINDOW - 1}
    ), grouped AS (
        SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_passes
        FROM cand GROUP BY 1, 2
    )
    SELECT g.doc_a, g.doc_b, g.n_passes,
           round(len(list_intersect(x.shingles, y.shingles)) * 1.0 /
                 (len(x.shingles) + len(y.shingles)
                  - len(list_intersect(x.shingles, y.shingles))), 6)
               AS jaccard
    FROM grouped g
    JOIN keys x ON x.doc_id = g.doc_a
    JOIN keys y ON y.doc_id = g.doc_b
    WHERE len(list_intersect(x.shingles, y.shingles)) * 1.0 /
          (len(x.shingles) + len(y.shingles)
           - len(list_intersect(x.shingles, y.shingles)))
          >= {_JACCARD_THRESHOLD}
    """,
)
def dedup_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PASS Sorted-Neighborhood (Hernández & Stolfo's own
    mitigation for SNM's single-key fragility, and the follow-up
    `dedup_sorted_neighborhood`'s docstring promises): THREE rotated
    blocking keys — text prefix (the single-pass key), text SUFFIX
    (last 24 chars, read forward — deliberately NOT reverse(), whose
    code-unit vs grapheme semantics fork across engines on non-ASCII),
    and a MID-TEXT window (24 chars centred at len/2) — each sorted
    independently, w−1-successor candidate pairs unioned, and ONE
    shared exact-Jaccard verify over the union. A prefix edit breaks
    pass 1 but leaves passes 2-3 adjacency intact; the emitted
    n_passes column records how many passes proposed each surviving
    pair (8 of 256 pairs are multi-pass at sf0.1 — the keys genuinely
    rotate).

    Measured recall vs the prefix-study brute-force truth (Jaccard
    ≥ 0.5 over the same shingle sets): 25/25 at sf0.01, 256/256 at
    sf0.1 — identical to single-pass, as expected on this corpus
    (template near-dups share prefixes), so the fixture demonstrates
    the UNION mechanics and per-pass key rotation, not a recall gain;
    the gain scenario (prefix-edited dups) is what the design buys at
    100 TB.

    Scale shape: 3× the single-pass cost, each pass the same
    distributed-rank discipline (range partitions + stitched rank +
    rank equi-join — no single-partition window); the union is a
    16-byte-pair shuffle; verification joins the memoized shingle
    digests once, on the DEDUPLICATED candidate set."""
    sh = _lsh_tables(spark, sf_dir)["sh"]
    lt = F.lower(F.col("text"))
    keys = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(lt, 1, _SNM_KEY_LEN).alias("k1"),
        lt.substr(
            F.greatest(F.lit(1), F.length(lt) - (_SNM_KEY_LEN - 1)),
            F.lit(_SNM_KEY_LEN),
        ).alias("k2"),
        lt.substr(
            F.greatest(
                F.lit(1),
                (F.length(lt) / 2).cast("long") - (_SNM_KEY_LEN // 2 - 1),
            ),
            F.lit(_SNM_KEY_LEN),
        ).alias("k3"),
    )
    keyed = sh.select("doc_id").join(keys, "doc_id")
    from presto_truffle_spark.cache import scoped_persist

    keyed = scoped_persist(spark, "dedup.snm_mp.keyed", keyed)
    # The three passes are STACKED into one frame keyed by (snm_pass,
    # bkey) instead of run as three independent rank pipelines: one
    # repartitionByRange (one sampling job), one persist, one
    # metadata-scale offsets table and one rank equi-join over 3n rows
    # replace three of each (r17 — measured ~6 s → ~3.5 s at sf0.01;
    # per-pass pair sets are unchanged because ranks are computed within
    # each pass: range order is (snm_pass, bkey, doc_id), the local
    # row_number partitions by (pid, snm_pass), and the offsets prefix
    # sum restarts per pass, so each pass's rank sequence is the same
    # total order the per-pass pipeline produced).
    stacked = keyed.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("snm_pass"), F.col(k).alias("bkey")
                    )
                    for i, k in enumerate(("k1", "k2", "k3"), start=1)
                ]
            )
        ).alias("pk"),
    ).select("doc_id", "pk.snm_pass", "pk.bkey")
    ranged = stacked.repartitionByRange(
        _SNM_PARTS, "snm_pass", "bkey", "doc_id"
    ).withColumn("pid", F.spark_partition_id())
    ranged = scoped_persist(spark, "dedup.snm_mp.ranged", ranged)
    counts = ranged.groupBy("pid", "snm_pass").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # Exclusive prefix sum per pass over <= 3*_SNM_PARTS partition-count
    # rows (metadata-scale, same bound class as _snm_offsets).
    w_off = (
        W.partitionBy("snm_pass")
        .orderBy("pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "pid",
        "snm_pass",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
        .cast("long")
        .alias("off"),
    )
    local_rn = F.row_number().over(
        W.partitionBy("pid", "snm_pass").orderBy("bkey", "doc_id")
    )
    ranked = ranged.join(F.broadcast(offsets), ["pid", "snm_pass"]).select(
        "doc_id", "snm_pass", (local_rn + F.col("off")).cast("long").alias("rn")
    )
    a_side = ranked.select(
        F.col("doc_id").alias("id_a"),
        "snm_pass",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _SNM_WINDOW)])
        ).alias("k"),
        "rn",
    ).select("id_a", "snm_pass", (F.col("rn") + F.col("k")).alias("rn_b"))
    b_side = ranked.select(
        F.col("doc_id").alias("id_b"), "snm_pass", F.col("rn").alias("rn_b")
    )
    cand = a_side.join(b_side, ["snm_pass", "rn_b"]).select(
        F.least("id_a", "id_b").alias("doc_a"),
        F.greatest("id_a", "id_b").alias("doc_b"),
    )
    grouped = cand.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_passes")
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        grouped.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= _JACCARD_THRESHOLD)
        .select(
            "doc_a", "doc_b", "n_passes", F.round(jac, 6).alias("jaccard")
        )
    )
