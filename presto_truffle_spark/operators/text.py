"""Text-analysis operators for LLM training-data pipelines.

[EXT] surface (BASELINE.json north_star): token statistics, quality
scoring, language ID, document fingerprinting, TF-IDF. Everything is
built-in string/array/higher-order functions — single scan, JVM-side, no
Python in the row path. Only TF-IDF shuffles (one explode + two grouped
aggregations); all scores are per-row expressions that scale linearly.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from presto_truffle_spark.catalog import load_table
from presto_truffle_spark.registry import query

# (The fixed English stopword list that lived here through r13 moved to
# a corpus-derived top-K head in text_quality_score — VERDICT r13 #6;
# pipelines.py keeps its own literal list for its release-gate recipe.)


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique,
           round(len(list_distinct(string_split(text, ' '))) * 1.0 /
                 len(string_split(text, ' ')), 6) AS ttr,
           round((length(text) - len(string_split(text, ' ')) + 1) * 1.0 /
                 len(string_split(text, ' ')), 4) AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + type/token ratio + mean token length. Whitespace
    tokenization matches the fixture's space-separated corpus; a BPE-ish
    regex variant is text_bpe_token_count."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.round(F.size(F.array_distinct(toks)) / n_tok, 6).alias("ttr"),
        F.round((F.length("text") - n_tok + 1) / n_tok, 4).alias("avg_token_len"),
    )


@query(
    "text_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
                AS INTEGER) AS n_bpe_ish,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_chars_div4
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token estimate: regex word/number/symbol pieces, plus the
    crude chars/4 heuristic used for budget estimates in data pipelines."""
    d = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0)
    return d.select(
        "doc_id",
        F.size(pieces).alias("n_bpe_ish"),
        F.ceil(F.length("text") / 4.0).alias("n_chars_div4"),
    )


# Corpus-adaptive stopword surrogate (r14, VERDICT r13 #6): the gate's
# stopword set is the corpus's own top-K frequency head (Luhn 1958 —
# function words ARE the Zipf head on natural language, so on English
# this recovers {the, of, and, …} automatically), which keeps the gate
# non-degenerate on ANY corpus: the r13 honest-negative record showed
# the fixed English list made every w###-token fixture doc fail.
_STOP_HEAD_K = 5


@query(
    "text_quality_score",
    oracle=f"""
    WITH tc AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY tok
    ), stop AS (
        SELECT list(tok ORDER BY tok) AS arr
        FROM (SELECT tok FROM tc ORDER BY c DESC, tok
              LIMIT {_STOP_HEAD_K})
    ), t AS (
        SELECT doc_id, text, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n FROM documents
    )
    SELECT doc_id,
           round(len(list_filter(toks, x -> list_contains(arr, x)))
                 * 1.0 / n, 6) AS stopword_ratio,
           round(len(list_filter(toks, x -> length(x) <= 2)) * 1.0 / n, 6)
               AS short_token_ratio,
           round(length(regexp_replace(text, '[a-z ]', '', 'g')) * 1.0 /
                 length(text), 6) AS nonalpha_ratio,
           CASE WHEN n BETWEEN 20 AND 1000
                 AND len(list_filter(toks, x -> list_contains(arr, x)))
                     * 1.0 / n BETWEEN 0.01 AND 0.6
                THEN 1 ELSE 0 END AS passes_quality
    FROM t CROSS JOIN stop
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (Gopher/C4-style): stopword ratio, short
    token ratio, non-alpha character ratio, and a pass/fail gate.

    The stopword set is CORPUS-DERIVED (r14, VERDICT r13 #6): the
    top-{K} most frequent tokens (deterministic count-desc, token-asc
    tie-break). On natural language the Zipf head IS the classic
    stopword list; on synthetic corpora it is their surrogate — the
    r13 fixed-English-list gate was degenerate on w### tokens (every
    doc failed; recorded as an honest negative, now resolved). The
    head is a bounded global top-K (TakeOrderedAndProject over the
    vocab-sized count fold), broadcast as one array row; the per-doc
    scoring stays a pure row-side map — the 100 TB quality-filter
    shape."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    tc = (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    stop = (
        tc.orderBy(F.col("c").desc(), F.col("tok"))
        .limit(_STOP_HEAD_K)
        .agg(F.sort_array(F.collect_list("tok")).alias("arr"))
    )
    stop_hits = F.size(
        F.filter(toks, lambda x: F.array_contains(F.col("arr"), x))
    )
    stop_ratio = stop_hits / n
    short_ratio = F.size(F.filter(toks, lambda x: F.length(x) <= 2)) / n
    nonalpha = F.length(F.regexp_replace("text", "[a-z ]", "")) / F.length("text")
    return d.crossJoin(F.broadcast(stop)).select(
        "doc_id",
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(short_ratio, 6).alias("short_token_ratio"),
        F.round(nonalpha, 6).alias("nonalpha_ratio"),
        F.when(n.between(20, 1000) & stop_ratio.between(0.01, 0.6), 1)
        .otherwise(0)
        .alias("passes_quality"),
    )


_LANG_MARKERS = {
    "en": ("the", "of", "and"),
    "de": ("der", "die", "und"),
    "es": ("el", "la", "que"),
    "fr": ("le", "la", "et"),
}


def _marker_count(toks, markers):
    """Count (with duplicates) of tokens in the marker set. The closure must
    be a single-arg lambda: Spark derives the HOF arity from the signature."""
    ms = tuple(markers)
    return F.size(F.filter(toks, lambda x: x.isin(*ms)))


@query(
    "text_langid_heuristic",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ), scores AS (
        SELECT doc_id, lang,
               {", ".join(
                   f"len(list_filter(toks, x -> x IN ({', '.join(repr(m) for m in ms)}))) AS c_{lg}"
                   for lg, ms in _LANG_MARKERS.items()
               )}
        FROM t
    )
    SELECT doc_id, lang AS label_lang,
           CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
                WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
                WHEN c_es >= c_fr THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM scores
    """,
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (n-gram-heuristic family). Deterministic
    argmax with a fixed tie-break order so both engines agree. Real
    pipelines swap the marker table for fastText scores via a pandas UDF —
    the plumbing (per-row score → argmax) is identical."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        "doc_id",
        F.col("lang").alias("label_lang"),
        *[_marker_count(toks, ms).alias(f"c_{lg}") for lg, ms in _LANG_MARKERS.items()],
    )
    pred = (
        F.when(
            (F.col("c_en") >= F.col("c_de"))
            & (F.col("c_en") >= F.col("c_es"))
            & (F.col("c_en") >= F.col("c_fr")),
            "en",
        )
        .when((F.col("c_de") >= F.col("c_es")) & (F.col("c_de") >= F.col("c_fr")), "de")
        .when(F.col("c_es") >= F.col("c_fr"), "es")
        .otherwise("fr")
    )
    return scored.select("doc_id", "label_lang", pred.alias("pred_lang"))


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fingerprint,
           substring(md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))), 1, 16)
               AS fingerprint64
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over canonicalized text (+ 64-bit prefix
    for compact storage). The join key for cross-corpus contamination
    checks at scale — 8/16 bytes per doc regardless of doc size."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), " +", " "))
    fp = F.md5(norm.cast("binary"))
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 16).alias("fingerprint64"),
    )


@query(
    "text_word_freq",
    oracle="""
    SELECT token, n FROM (
        SELECT token, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, token) AS rn
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token)
    WHERE rn <= 20
    """,
)
def text_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word frequency, top-20 (the canonical explode→groupBy→top-k).
    The explode multiplies rows by tokens-per-doc; the partial aggregate
    collapses them again map-side before the shuffle. The global top-20 is
    orderBy+limit → TakeOrderedAndProject (per-partition partial top-k,
    merged on the driver) — NOT a global row_number window, which would
    move the entire vocabulary through one partition (r2 fix; the
    unpartitioned-window warning flagged it)."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.orderBy(F.col("n").desc(), "token").limit(20)


# Persist tf only when the on-disk corpus is at least this large: below it
# the cache write costs more than recomputing the tokenize+count pipeline
# (~+0.4 s at sf0.1's 0.6 MB, measured); above it the avoided second
# corpus scan+shuffle dominates. 256 MiB is comfortably past the
# crossover on local[32] and microscopic next to the 100 TB target, where
# the gate always persists.
_TFIDF_PERSIST_MIN_BYTES = 256 << 20

# Broadcast the vocabulary-sized side (df counts / the JSD token
# marginal) only while the CORPUS is below this size. A min-df-pruned
# web vocabulary broadcasts fine, but a RAW web-scale vocabulary
# (Heaps-law sublinear in corpus bytes, yet unbounded) eventually
# doesn't: past the gate, tfidf switches to the salted-token shuffle
# join its docstring promised (VERDICT r11 #2) and JSD flips the
# broadcast to the categorically-bounded SOURCES side. 32 GiB of
# on-disk corpus keeps every local/test run on the broadcast path
# while web-scale inputs take the shuffle path; both plan shapes are
# pinned in tests/test_plans.py and produce identical values.
_VOCAB_BROADCAST_MAX_BYTES = 32 << 30
_VOCAB_SALT_PARTS = 8  # salt fan-out for the hot-token shuffle join


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY doc_id, token
    ), df AS (
        SELECT token, count(*) AS df FROM tf GROUP BY token
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.token,
               round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf FROM (
        SELECT doc_id, token, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, token) AS rn
        FROM scored)
    WHERE rn <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF, top-3 terms per document. Three shuffles total (tf groupBy,
    df groupBy, per-doc window); the doc-count joins in as a broadcast
    1-row table — no collect(). IDF = ln(N/df), tf raw count.

    The tf⋈df join BROADCASTS the document-frequency side (r3, closing the
    r2 verdict's residual hazard): joining on ``token`` via shuffle is
    stopword-skewed — 'the' alone would funnel a corpus-scale partition
    through one task — while df itself is only vocabulary-sized (tens of
    MB compressed even for web-scale corpora after the usual min-df
    pruning), so broadcasting removes the skewed shuffle entirely. Plan
    asserted in tests/test_plans.py. If a corpus's raw vocabulary
    outgrows broadcast (corpus ≥ _VOCAB_BROADCAST_MAX_BYTES as the
    size gate), the op switches to the SALTED-token shuffle join that
    this docstring used to merely promise (VERDICT r11 #2): tf takes
    salt = hash(doc_id) % _VOCAB_SALT_PARTS, df replicates each token
    across all salts, and the join key becomes (token, salt) — a hot
    stopword's corpus-scale row group spreads over _VOCAB_SALT_PARTS
    tasks instead of one, at the cost of replicating the vocab-sized
    side ×8. Both paths are value-identical and plan-pinned
    (tests/test_plans.py::test_tfidf_vocab_salting_gate).

    ``tf`` is persisted before ``df`` is derived from it: df and the
    final join would otherwise each re-run the tokenize+explode+groupBy
    pipeline — Spark does NOT exchange-reuse across the broadcast
    boundary (verified: the unpersisted plan holds two full Generate+
    FileScan subtrees), so that recompute is a second full corpus
    scan+shuffle at 100 TB (VERDICT r4 efficiency finding). The persist
    is LAZY on purpose: the broadcast df stage materializes first and
    fills the cache as a side effect, the probe side then reads it — an
    eager ``tf.count()`` would add a whole extra job (+0.4 s at sf0.1,
    measured).

    Cache-vs-recompute is scale-dependent (~+0.4 s cache-write overhead
    at sf0.1 vs a saved full corpus scan+shuffle at 100 TB — BASELINE.md
    r5 note), so the persist is GATED on input size (VERDICT r5 item 6):
    below ``_TFIDF_PERSIST_MIN_BYTES`` of on-disk corpus the recompute is
    cheaper than the cache write and tf stays unpersisted; at or above
    it, the scale posture wins. Both paths are plan-asserted
    (tests/test_plans.py): persisted ⇒ both consumers read
    InMemoryTableScan; unpersisted ⇒ no cache in the plan."""
    from presto_truffle_spark.cache import input_bytes, scoped_persist

    d = load_table(spark, sf_dir, "documents")
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tokens.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    if input_bytes(sf_dir, "documents") >= _TFIDF_PERSIST_MIN_BYTES:
        tf = scoped_persist(spark, "text.tfidf.tf", tf)
    # df = count of tf rows per token, written as sum(least(tf, 1)) — the
    # value is identical (tf >= 1 on every row), but the column REFERENCE
    # matters for the plan: a plain count(1) lets the optimizer prune the
    # partial_count out of the df branch's aggregate chain, making its
    # Exchange subtree differ from tf's own, so AQE's stage cache cannot
    # reuse the shuffle and the unpersisted path re-runs the whole
    # tokenize+explode+partial-agg chain (the two Generate+FileScan
    # subtrees the persist gate's docstring describes). Referencing tf
    # keeps the two Exchange subtrees canonically identical, so AQE
    # reuses the tf shuffle for the df branch (final plan shows
    # ReusedExchange; scans of documents drop 3 → 2, one of which reads
    # zero columns) — r17, plan diff in plans/r17/.
    df = tf.groupBy("token").agg(F.sum(F.least(F.col("tf"), F.lit(1))).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    if input_bytes(sf_dir, "documents") >= _VOCAB_BROADCAST_MAX_BYTES:
        # Raw vocabulary past broadcast scale: salted shuffle join.
        salts = F.array(*[F.lit(i) for i in range(_VOCAB_SALT_PARTS)])
        tf_s = tf.withColumn(
            "salt", F.pmod(F.hash("doc_id"), F.lit(_VOCAB_SALT_PARTS))
        )
        df_s = df.withColumn("salt", F.explode(salts))
        joined = tf_s.join(df_s, ["token", "salt"]).drop("salt")
    else:
        joined = tf.join(F.broadcast(df), "token")
    scored = (
        joined
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.select("doc_id", "token", "tfidf", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@query(
    "text_lang_profile",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition by language — the mix-monitoring aggregate every
    multilingual data pipeline keeps."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 4).alias("avg_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "text_token_entropy",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
    ), tc AS (
        SELECT doc_id, token, count(*) AS c
        FROM tok GROUP BY doc_id, token
    ), dc AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
               ln(CAST(sum(c) AS DOUBLE))
                   - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                     / CAST(sum(c) AS DOUBLE) AS h
        FROM tc GROUP BY doc_id
    )
    SELECT doc_id, n AS n_tokens,
           floor(h * 1000000 + 0.5) / 1000000 AS token_entropy
    FROM dc
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution (nats) — the
    information-density quality signal: near-zero entropy means the doc is
    one token repeated (spam/boilerplate), log(n_distinct) means all
    tokens distinct. Complements the Gopher repetition rules
    (text_repetition_stats) with a single scalar that's robust to WHICH
    token repeats.

    Same linear explode → groupBy(doc, token) shape as word-freq: per-doc
    work is O(tokens), shuffle-parallel, map-side combinable — never a
    per-row loop over the distinct set. ln() is IEEE-identical across
    engines in practice (same convention as TF-IDF's idf, driver-green
    since r1); the 1e-6 floor-round absorbs last-ulp sum-order drift."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    dc = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        # H = ln(n) - (1/n)·Σ c·ln(c): one pass, no second join for p=c/n
        (
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
            / F.sum("c").cast("double")
        ).alias("h"),
    )
    return dc.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        (F.floor(F.col("h") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
            "token_entropy"
        ),
    )


_PHRASE = ("stream", "table", "hash")  # 3-token query phrase (fixture-present)


@query(
    "text_phrase_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), pos AS (
        SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM toks WHERE len(t) >= 3
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM pos
    WHERE t[i] = '{_PHRASE[0]}' AND t[i+1] = '{_PHRASE[1]}'
          AND t[i+2] = '{_PHRASE[2]}'
    GROUP BY doc_id
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search through a POSITIONAL inverted index — the
    operator behind "find every document containing this exact n-gram"
    (dataset decontamination against a benchmark phrase, memorization
    probes, quote tracing). posexplode(token) builds (doc, position,
    token) postings; the phrase match is an adjacency self-join —
    token_k at position p+k for each phrase word — so only the postings
    of the THREE query words are ever joined, never the corpus.

    Token-level positions (not instr) deliberately: a substring scan
    would also match across word boundaries ('restream table hashing'),
    the classic phrase-search false positive. The oracle re-derives
    positions by scanning the token array — same semantics through a
    different algorithm (array scan vs index join).

    Scale posture: the filter to the 3 phrase tokens prunes postings
    BEFORE any join (predicate pushdown through posexplode's Generate),
    and the PRUNED postings frame is scoped_persist'ed so the corpus is
    tokenized ONCE — the three per-word branches below would otherwise
    each re-scan and re-explode the full text column (the rescan-audit
    class; the cached frame is the tiny 3-word postings set, exactly
    the "persist only reduced intermediates" doctrine). The joins are
    equi on (doc_id, position±k) and shuffle only the pruned postings.
    At 100 TB with a real index the postings lists are pre-materialized
    and bucketed by token — this query is the on-the-fly version of the
    same plan."""
    from presto_truffle_spark.cache import scoped_persist

    d = load_table(spark, sf_dir, "documents")
    posts = scoped_persist(
        spark,
        "text_phrase_search.posts",
        d.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
        ).filter(F.col("tok").isin(*_PHRASE)),
    )
    w = [
        posts.filter(F.col("tok") == word).select(
            F.col("doc_id").alias(f"d{k}"), F.col("pos").alias(f"p{k}")
        )
        for k, word in enumerate(_PHRASE)
    ]
    joined = (
        w[0]
        .join(
            w[1],
            (F.col("d0") == F.col("d1")) & (F.col("p1") == F.col("p0") + 1),
        )
        .join(
            w[2],
            (F.col("d0") == F.col("d2")) & (F.col("p2") == F.col("p0") + 2),
        )
    )
    return joined.groupBy(F.col("d0").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )


@query(
    "text_regex_extract_profile",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+) (table|hash|scan)', 1) AS before_kw,
           regexp_replace(text, '[aeiou]', '_', 'g') IS NOT NULL AS replaced_ok,
           CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
               AS len_no_vowels,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_words
    FROM documents
    """,
)
def text_regex_extract_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface over the SAFE cross-engine subset. The probe
    behind this query (pinned in tests/test_fuzz_differential.py) found
    the regex functions where the engines genuinely fork:
    ``regexp_replace`` replaces ALL matches in Spark but only the FIRST
    in DuckDB (DuckDB needs the 'g' flag — so the two sides here use
    each engine's own global-replace idiom, same semantics, different
    spelling); ``split`` is regex-delimited in Spark but LITERAL in
    DuckDB; ``RLIKE``/``regexp_count`` don't exist in DuckDB; and any
    backslash class ('\\d') hits the pinned string-literal divergence —
    bracket classes ([0-9], [a-z]) are the portable spelling.
    ``regexp_extract`` (group extraction, '' on no-match, NULL in/out)
    agrees exactly and is the one function shared verbatim.

    Scale posture: pure row-side projection, single scan, no shuffle —
    regex cost is per-row CPU inside whole-stage codegen."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract(F.col("text"), "([a-z]+) (table|hash|scan)", 1).alias(
            "before_kw"
        ),
        F.regexp_replace(F.col("text"), "[aeiou]", "_").isNotNull().alias(
            "replaced_ok"
        ),
        F.length(F.regexp_replace(F.col("text"), "[aeiou]", "")).cast(
            "long"
        ).alias("len_no_vowels"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long").alias(
            "n_words"
        ),
    )


_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "text_bm25_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token,
               len(string_split(text, ' ')) AS dl
        FROM documents
    ), tf AS (
        SELECT doc_id, token, dl, count(*) AS tf
        FROM toks
        WHERE token IN ('{_PHRASE[0]}', '{_PHRASE[1]}', '{_PHRASE[2]}')
        GROUP BY doc_id, token, dl
    ), stats AS (
        SELECT count(*) AS n_docs,
               avg(len(string_split(text, ' '))) AS avgdl
        FROM documents
    ), df AS (
        SELECT token, count(*) AS df FROM tf GROUP BY token
    ), scored AS (
        SELECT tf.doc_id,
               sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                   * tf.tf * ({_BM25_K1} + 1)
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                        + {_BM25_B} * tf.dl / stats.avgdl))) AS score,
               count(*) AS n_terms_hit
        FROM tf JOIN df USING (token) CROSS JOIN stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
           floor(score * 1000000 + 0.5) / 1000000 AS bm25
    FROM (SELECT *, row_number() OVER (ORDER BY round(score, 9) DESC, doc_id)
                 AS rn
          FROM scored)
    WHERE rn <= 20
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Okapi; the lexical baseline every
    retrieval pipeline keeps next to its embedding index) for the
    3-token query `_PHRASE`, top-20 docs. Classic formulation:
    idf = ln((N - df + 0.5)/(df + 0.5) + 1) (the Lucene-style
    +1-smoothed variant, always positive), tf saturation k1=1.2, length
    normalization b=0.75 against mean doc length.

    Scale shape — the same postings discipline as `text_phrase_search`:
    the token explode is FILTERED to the query terms before the tf
    groupBy, so the pipeline only ever shuffles postings of the 3 query
    tokens (at 100 TB: a pre-materialized token-bucketed postings table
    replaces the scan). df (3 rows) and the corpus stats (1 row)
    broadcast; scoring is one aggregate over the filtered postings; the
    global top-20 is a TakeOrderedAndProject, never a full sort.
    Ordering ties are broken by doc_id on a round-9 score (the float
    tail is engine-identical here, but the tie-break keeps the answer
    deterministic under reordered float sums at real scale)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split("text", " ")).alias("token"),
        F.size(F.split("text", " ")).alias("dl"),
    )
    tf = (
        toks.filter(F.col("token").isin(*_PHRASE))
        .groupBy("doc_id", "token", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(F.split("text", " "))).alias("avgdl"),
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    term = idf * F.col("tf") * (_BM25_K1 + 1) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term).alias("score"), F.count(F.lit(1)).alias("n_terms_hit"))
    )
    return (
        scored.orderBy(F.round("score", 9).desc(), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            F.col("n_terms_hit").cast("long").alias("n_terms_hit"),
            (F.floor(F.col("score") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
                "bm25"
            ),
        )
    )


_RRF_K = 60  # standard reciprocal-rank-fusion damping (Cormack et al., SIGIR'09)
_FUSE_N = 20  # depth of each input ranking
_HYBRID_OUT = 10

# The lexical candidate list re-ranked on the 6dp floor-rounded bm25 the
# proven text_bm25_search query emits (identical values both engines, so
# the fused ranks are engine-identical by construction).
_BM25_TOP20_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token,
               len(string_split(text, ' ')) AS dl
        FROM documents
    ), tf AS (
        SELECT doc_id, token, dl, count(*) AS tf
        FROM toks
        WHERE token IN ('{_PHRASE[0]}', '{_PHRASE[1]}', '{_PHRASE[2]}')
        GROUP BY doc_id, token, dl
    ), stats AS (
        SELECT count(*) AS n_docs,
               avg(len(string_split(text, ' '))) AS avgdl
        FROM documents
    ), dfreq AS (
        SELECT token, count(*) AS df FROM tf GROUP BY token
    ), bm_scored AS (
        SELECT tf.doc_id,
               sum(ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1)
                   * tf.tf * ({_BM25_K1} + 1)
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                        + {_BM25_B} * tf.dl / stats.avgdl))) AS score
        FROM tf JOIN dfreq USING (token) CROSS JOIN stats
        GROUP BY tf.doc_id
    ), bm_top AS (
        SELECT doc_id,
               floor(score * 1000000 + 0.5) / 1000000 AS bm25
        FROM (SELECT *, row_number() OVER (ORDER BY round(score, 9) DESC,
                                           doc_id) AS rn
              FROM bm_scored)
        WHERE rn <= {_FUSE_N}
    )
"""


@query(
    "search_hybrid_rrf",
    oracle=f"""
    {_BM25_TOP20_SQL}
    , lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
        FROM bm_top
    ), qv AS (
        SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0
    ), cand AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings
        WHERE vec_id >= 5
    ), cos_scored AS (
        SELECT cid,
               round(list_dot_product(qe, ce) /
                     (sqrt(list_dot_product(qe, qe)) *
                      sqrt(list_dot_product(ce, ce))), 6) AS cos_sim
        FROM cand CROSS JOIN qv
    ), sem AS (
        SELECT cid, rn AS sem_rank
        FROM (SELECT *, row_number() OVER (ORDER BY cos_sim DESC, cid) AS rn
              FROM cos_scored)
        WHERE rn <= {_FUSE_N}
    ), fused AS (
        SELECT COALESCE(lex.doc_id, sem.cid) AS doc_id,
               COALESCE(lex.lex_rank, 0) AS lex_rank,
               COALESCE(sem.sem_rank, 0) AS sem_rank,
               COALESCE(1.0 / ({_RRF_K} + lex.lex_rank), 0.0)
                 + COALESCE(1.0 / ({_RRF_K} + sem.sem_rank), 0.0) AS rrf
        FROM lex FULL JOIN sem ON lex.doc_id = sem.cid
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank,
           floor(rrf * 1000000 + 0.5) / 1000000 AS rrf
    FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn
          FROM fused)
    WHERE rn <= {_HYBRID_OUT}
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack/Clarke/Buettcher,
    SIGIR'09) of the lexical BM25 ranking (`text_bm25_search`, query =
    `_PHRASE`) and the semantic cosine ranking (query vector = embedding
    vec_id 0, candidates vec_id >= 5, identified with doc ids by the
    vec_id = doc_id convention — NOTE the fixture's embeddings are a
    separate synthetic modality, not encodings of the document text
    (tools/bm25_study.py), so the fused lists exercise the operator's
    semantics, not retrieval quality; RRF itself is rank-based and needs
    no cross-modal score calibration). Each list is taken to depth
    20, fused as sum of 1/(60 + rank) over the lists a doc appears in,
    top-10 by fused score. A doc missing from a list contributes 0 for
    it (rank emitted as 0). This is the standard production shape for
    RAG / training-data search: two cheap independent top-k retrievals
    (each with its own scale path — postings-bounded BM25, broadcast
    cosine or its IVF-PQ variants) fused rank-wise so no score
    calibration between modalities is needed.

    Determinism: both input rankings are computed on 6dp-rounded scores
    with doc_id tie-breaks (the values the proven base queries emit), so
    the fused ranks — and the RRF sums, two exactly-rounded IEEE
    divisions added in the same order both engines — are
    engine-identical. Scale: the fusion itself is a full-outer join of
    two k-row lists (k=20) — driver-trivial; the cost lives entirely in
    the input retrievals, which keep their own 100 TB postures."""
    lex = text_bm25_search(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("lex_rank"),
    )
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    dot = lambda a, b: F.aggregate(  # noqa: E731 — sequential fold, DuckDB order
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    q = e.filter(F.col("vec_id") == 0).select(
        emb.alias("qe")
    ).withColumn("qnorm", F.sqrt(dot(F.col("qe"), F.col("qe"))))
    c = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), emb.alias("ce")
    ).withColumn("cnorm", F.sqrt(dot(F.col("ce"), F.col("ce"))))
    cos = dot(F.col("qe"), F.col("ce")) / (F.col("qnorm") * F.col("cnorm"))
    sem = (
        c.join(F.broadcast(q))
        .select("cid", F.round(cos, 6).alias("cos_sim"))
        .select(
            "cid",
            F.row_number()
            .over(W.orderBy(F.col("cos_sim").desc(), "cid"))
            .alias("sem_rank"),
        )
        .filter(F.col("sem_rank") <= _FUSE_N)
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0))
    fused = (
        lex.join(sem, lex.doc_id == sem.cid, "full_outer")
        .select(
            F.coalesce(lex.doc_id, sem.cid).cast("long").alias("doc_id"),
            F.coalesce(F.col("lex_rank"), F.lit(0)).cast("long").alias(
                "out_lex_rank"
            ),
            F.coalesce(F.col("sem_rank"), F.lit(0)).cast("long").alias(
                "out_sem_rank"
            ),
            rrf.alias("rrf_raw"),
        )
    )
    return (
        fused.orderBy(F.col("rrf_raw").desc(), "doc_id")
        .limit(_HYBRID_OUT)
        .select(
            "doc_id",
            F.col("out_lex_rank").alias("lex_rank"),
            F.col("out_sem_rank").alias("sem_rank"),
            (F.floor(F.col("rrf_raw") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
                "rrf"
            ),
        )
    )


_LANGID_PRED_SQL = f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ), lscores AS (
        SELECT doc_id, lang,
               {", ".join(
                   f"len(list_filter(toks, x -> x IN ({', '.join(repr(m) for m in ms)}))) AS c_{lg}"
                   for lg, ms in _LANG_MARKERS.items()
               )}
        FROM t
    ), preds AS (
        SELECT doc_id, lang AS label_lang,
               CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
                    WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
                    WHEN c_es >= c_fr THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM lscores
    )
"""


@query(
    "text_langid_confusion",
    oracle=f"""
    {_LANGID_PRED_SQL}
    SELECT p.label_lang, p.pred_lang,
           CAST(count(*) AS BIGINT) AS n,
           CAST(any_value(tot.n_label) AS BIGINT) AS label_total,
           floor(count(*) * 1.0 / any_value(tot.n_label) * 1000000 + 0.5)
               / 1000000 AS cell_rate
    FROM preds p
    JOIN (SELECT label_lang, count(*) AS n_label FROM preds
          GROUP BY label_lang) tot
      ON p.label_lang = tot.label_lang
    GROUP BY p.label_lang, p.pred_lang
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the langid heuristic against the fixture's
    `lang` ground-truth column — the evaluation every classifier-based
    corpus gate needs next to the classifier itself: per (true,
    predicted) cell, the count and the row-normalized rate (diagonal
    cells are per-language recall; off-diagonal rows show WHERE the
    marker table fails, which is what you fix). Composes the registered
    `text_langid_heuristic` predictions with ONE grouped count; the
    per-label totals derive from the tiny cell table itself (sum of
    cells per true label), so the eval costs exactly one corpus scan —
    it can run on every corpus snapshot, not just offline."""
    preds = text_langid_heuristic(spark, sf_dir)
    cells = preds.groupBy("label_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # label totals as a WINDOW over the <=16-row cell table — a separate
    # groupBy-then-join would fork the lineage and re-scan the corpus
    # (rescan audit caught exactly that); the window keeps ONE scan
    return (
        cells.withColumn(
            "n_label", F.sum("n").over(W.partitionBy("label_lang"))
        )
        .select(
            "label_lang",
            "pred_lang",
            "n",
            F.col("n_label").cast("long").alias("label_total"),
            (
                F.floor(
                    F.col("n") * F.lit(1.0) / F.col("n_label") * 1_000_000
                    + F.lit(0.5)
                )
                / 1_000_000
            ).alias("cell_rate"),
        )
    )


@query(
    "text_zipf_fit",
    oracle="""
    WITH v AS (
        SELECT t, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY t
    ), ranked AS (
        SELECT c,
               row_number() OVER (ORDER BY c DESC, t ASC) AS r
        FROM v
    ), pts AS (
        SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
        FROM ranked
    ), s AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS vocab_size,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
             AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 4) AS zipf_intercept
    FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: least-squares slope of
    ln(frequency) against ln(rank). Natural text sits near slope -1;
    a flat slope means synthetic/uniform token soup (this fixture:
    31 tokens, slope ≈ -0.6), a cliff means boilerplate domination —
    the corpus-level health check that complements the per-doc entropy
    and repetition gates.

    Rank is a row_number over (freq DESC, token ASC) — the tie-break
    spelled identically on both engines so equal-frequency tokens rank
    identically. ln() on exact integer counts is IEEE-identical (the
    TF-IDF convention); the power sums are FP over VOCABULARY-sized
    input with the final slope/intercept rounded to 4dp (the
    token-entropy convention — rounding absorbs last-ulp sum-order
    drift). The slope formula is spelled once per engine in identical
    shape.

    Scale shape: corpus folds to the vocabulary in one map-combinable
    groupBy (the only corpus-sized stage); the rank window and the
    5-sum fold run on the vocab table — millions of rows at web scale,
    bounded by the token domain, not the corpus. The rank window is
    single-partition by construction but over the REDUCED table (the
    skyline/budget-select discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    v = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    from pyspark.sql.window import Window

    ranked = v.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), F.col("t").asc()))
        .alias("r"),
    )
    pts = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("long").alias("vocab_size"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "zipf_intercept"
        ),
    )


_PMI_MIN_DOCS = 5


@query(
    "text_pmi_collocations",
    oracle=f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ), n AS (
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM documents
    ), uni AS (
        SELECT t, CAST(count(*) AS BIGINT) AS c FROM dt GROUP BY t
    ), pairs AS (
        SELECT a.t AS tok_a, b.t AS tok_b,
               CAST(count(*) AS BIGINT) AS c_ab
        FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.t < b.t
        GROUP BY 1, 2
        HAVING count(*) >= {_PMI_MIN_DOCS}
    )
    SELECT tok_a, tok_b, c_ab,
           round(ln(n.n_docs * 1.0 * c_ab / (ua.c * 1.0 * ub.c)), 4)
             AS pmi
    FROM pairs
    JOIN uni ua ON pairs.tok_a = ua.t
    JOIN uni ub ON pairs.tok_b = ub.t
    CROSS JOIN n
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level token
    co-occurrence — the collocation-mining / phrase-discovery
    primitive: PMI = ln(N·c_ab / (c_a·c_b)) over docs, positive when
    two tokens co-occur beyond chance (candidate phrases, topical
    pairs), ≈0 for independent tokens. Document-level (not adjacency —
    that's text_bigram_surprisal's axis), so it finds long-range
    topical affinity.

    Determinism: all counts are exact integers; one ln() over their
    exact ratio rounded 4dp (the TF-IDF ln convention). Scale shape:
    the pair space is a per-DOC self-join over each doc's DISTINCT
    token set — bounded by Σ(per-doc distinct)², the market-basket
    bounded-block discipline with the document as basket (vocabulary
    dedup per doc first, so a token repeated 100× in one doc counts
    once) — never the corpus × corpus or vocab × vocab square. The
    unigram doc-frequency table is vocabulary-bounded and broadcast
    back onto the (already min-support-filtered) pair table; the
    support filter prunes BEFORE the PMI join, which is what keeps the
    pair table shippable at web scale. The distinct (doc, token) table
    is scoped_persisted: THREE consumers (unigram fold + both self-join
    sides) and its recompute is explode + a DISTINCT SHUFFLE — unlike
    the bigram probe side (a cheap map-only explode, deliberately
    uncached), re-running it tripled the shuffle count (rescan-audit
    rule, SCALING.md r5)."""
    from presto_truffle_spark.cache import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    dt = scoped_persist(
        spark,
        "text.pmi_collocations.dt",
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("t")
        ).distinct(),
    )
    n_docs = docs.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    uni = dt.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = dt.select(F.col("doc_id").alias("d"), F.col("t").alias("tok_a"))
    b = dt.select(F.col("doc_id").alias("d"), F.col("t").alias("tok_b"))
    pairs = (
        a.join(b, "d")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_DOCS)
    )
    ua = uni.select(F.col("t").alias("tok_a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("t").alias("tok_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            F.round(
                F.log(
                    F.col("n_docs")
                    * 1.0
                    * F.col("c_ab")
                    / (F.col("ca") * 1.0 * F.col("cb"))
                ),
                4,
            ).alias("pmi"),
        )
    )


@query(
    "text_heaps_law_fit",
    oracle="""
    WITH maxd AS (
        SELECT max(doc_id) AS md, count(*) AS nd FROM documents
    ), firsts AS (
        SELECT t, min(doc_id) AS first_doc
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents)
        GROUP BY t
    ), toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
    ), deciles AS (
        SELECT g.decile,
               (SELECT md * g.decile // 10 FROM maxd) AS cutoff
        FROM generate_series(1, 10) AS g(decile)
    )
    SELECT d.decile,
           CAST((SELECT sum(n) FROM toks WHERE doc_id <= d.cutoff)
                AS BIGINT) AS n_tokens,
           CAST((SELECT count(*) FROM firsts WHERE first_doc <= d.cutoff)
                AS BIGINT) AS vocab_size
    FROM deciles d
    """,
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law curve — vocabulary size as a function of corpus size,
    sampled at ten doc_id-ordered prefixes: the companion diagnostic to
    text_zipf_fit (natural corpora grow vocab ~ tokensᵝ, β≈0.4-0.6; a
    FLAT curve means a closed vocabulary — this fixture — and a linear
    one means noise/IDs, both of which change tokenizer and dedup
    decisions). Emitted as the 10-point (n_tokens, vocab_size) curve;
    the β fit is one downstream regression over 10 rows.

    The distributed trick: a naive prefix sweep would run K distinct-
    counts with an Expand blow-up (the agg_approx_distinct lesson);
    instead each token's FIRST-OCCURRENCE doc (one groupBy-min over
    the explode) makes vocab-at-cutoff a simple count of firsts below
    the cutoff — K cutoffs become conditional counts over the
    vocabulary-bounded firsts table, one corpus pass total. Same
    first-occurrence discipline as dedup_exact's survivor pick, reused
    for measurement. Deterministic: prefix order is doc_id (the stable
    ingest key), cutoffs are integer floor-division deciles of
    max(doc_id), every output an exact integer."""
    docs = load_table(spark, sf_dir, "documents")
    maxd = docs.agg(F.max("doc_id").alias("md"))
    firsts = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    toks = docs.select("doc_id", F.size(F.split("text", " ")).alias("n"))
    deciles = (
        spark.range(1, 11)
        .select(F.col("id").cast("int").alias("decile"))
        .crossJoin(F.broadcast(maxd))
        .select("decile", F.expr("md * decile div 10").alias("cutoff"))
    )
    tok_counts = (
        toks.crossJoin(F.broadcast(deciles))
        .filter(F.col("doc_id") <= F.col("cutoff"))
        .groupBy("decile")
        .agg(F.sum("n").cast("long").alias("n_tokens"))
    )
    vocab_counts = (
        firsts.crossJoin(F.broadcast(deciles))
        .filter(F.col("first_doc") <= F.col("cutoff"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
    )
    return tok_counts.join(vocab_counts, "decile").select(
        "decile", "n_tokens", "vocab_size"
    )


@query(
    "text_rake_keywords",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ')[i] AS tok, i
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1,
                          len(string_split(text, ' ')))) AS i
            FROM documents)
    ), ns AS (
        SELECT doc_id, tok, i,
               i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
                 AS island
        FROM toks WHERE tok NOT IN ('a', 'the')
    ), phrases AS (
        SELECT doc_id, island,
               string_agg(tok, ' ' ORDER BY i) AS phrase,
               CAST(count(*) AS BIGINT) AS plen
        FROM ns GROUP BY doc_id, island
    ), words AS (
        SELECT tok,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(plen) AS BIGINT) AS degree
        FROM ns JOIN phrases USING (doc_id, island)
        GROUP BY tok
    ), wscore AS (
        SELECT tok, degree * 1000000 // freq AS wscore_ppm FROM words
    ), ptexts AS (
        SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
               min(plen) AS plen
        FROM phrases GROUP BY phrase
    ), pscore AS (
        SELECT p.phrase, p.n_occurrences, p.plen,
               CAST(sum(w.wscore_ppm) AS BIGINT) AS score_ppm
        FROM (SELECT phrase, n_occurrences, plen,
                     unnest(string_split(phrase, ' ')) AS tok
              FROM ptexts) p
        JOIN wscore w USING (tok)
        GROUP BY p.phrase, p.n_occurrences, p.plen
    )
    SELECT phrase, plen AS n_words, n_occurrences, score_ppm
    FROM pscore
    ORDER BY score_ppm DESC, n_occurrences DESC, phrase
    LIMIT 15
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al., 2010): candidate phrases are
    the maximal stopword-free token runs; each word scores
    degree/frequency (degree = total length of phrases it appears in —
    words that ride in long collocations outrank words that appear
    alone); a phrase scores the sum of its word scores; top 15 phrases
    returned. The phrase-level complement to the word-level TF-IDF and
    PMI extractors: RAKE needs NO corpus statistics beyond one pass, is
    trivially distributable, and is the standard cheap first-pass
    keyphrase tagger in corpus triage. Stopword set is the fixture's
    actual function words ('a', 'the' — the only closed-class tokens in
    its 31-token vocabulary).

    Phrase segmentation is the gaps-and-islands trick on token position
    (island = idx - row_number over non-stop tokens), the same machinery
    as events_sessionize_islands — reused here on TEXT rather than
    re-spelling a per-engine split-on-stopword regex (whose consecutive-
    stopword boundary behavior forks between engines).

    Determinism: scores are integer micro-units end-to-end —
    word score = degree*1e6 div freq (integer division, exact), phrase
    score = BIGINT sum of word ppms — so the ranking has no FP anywhere;
    ties (identical score) break by occurrence count then phrase text.
    Scale shape: token explode -> one islands window partitioned by
    doc -> two grouped aggregates (words, phrase texts) -> a join of
    phrase words against the ~vocab-sized score table (broadcast at any
    realistic vocabulary) -> TakeOrderedAndProject for the top 15."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("i0", "tok"),
    ).select("doc_id", "tok", (F.col("i0") + 1).alias("i"))
    ns = toks.filter(~F.col("tok").isin("a", "the")).withColumn(
        "island",
        F.col("i")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("i")),
    )
    phrases = ns.groupBy("doc_id", "island").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "tok"))),
                lambda x: x.tok,
            ),
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    )
    # One phrase row per stopword-free run — the reduced hub every later
    # stage (word stats, phrase-text dedup) derives from; persisted so
    # the corpus tokenize+islands pass runs once (rescan audit caught
    # the original ns-join spelling scanning documents three times).
    from presto_truffle_spark.cache import scoped_persist

    phrases = scoped_persist(spark, "text.rake.phrases", phrases)
    words = (
        phrases.select(
            F.explode(F.split(F.col("phrase"), " ")).alias("tok"), "plen"
        )
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
    )
    wscore = words.select(
        "tok", F.expr("degree * 1000000 div freq").alias("wscore_ppm")
    )
    ptexts = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.min("plen").alias("plen"),
    )
    pscore = (
        ptexts.select(
            "phrase",
            "n_occurrences",
            "plen",
            F.explode(F.split(F.col("phrase"), " ")).alias("tok"),
        )
        .join(F.broadcast(wscore), "tok")
        .groupBy("phrase", "n_occurrences", "plen")
        .agg(F.sum("wscore_ppm").cast("long").alias("score_ppm"))
    )
    return (
        pscore.select(
            "phrase",
            F.col("plen").alias("n_words"),
            "n_occurrences",
            "score_ppm",
        )
        .orderBy(
            F.col("score_ppm").desc(), F.col("n_occurrences").desc(), "phrase"
        )
        .limit(15)
    )


def _bpe_pair_cte_duck(k: int) -> str:
    return f"""p{k} AS (
        SELECT syms[i] || ' ' || syms[i+1] AS pair,
               CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT freq, string_split(trim(s), ' ') AS syms FROM sym{k-1})
        CROSS JOIN (SELECT unnest(generate_series(1, 40)) AS i)
        WHERE i < len(syms)
        GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1
    ), m{k} AS (
        SELECT pair, cnt, ' ' || pair || ' ' AS pat,
               ' ' || replace(pair, ' ', '') || ' ' AS rep FROM p{k}
    ), sym{k} AS (
        SELECT w, freq,
               replace(replace(s, m.pat, m.rep), m.pat, m.rep) AS s
        FROM sym{k-1} CROSS JOIN m{k} m
    ), v{k} AS (
        SELECT CAST(count(DISTINCT sym) AS BIGINT) AS vocab
        FROM (SELECT unnest(string_split(trim(s), ' ')) AS sym
              FROM sym{k})
    )"""


_BPE_TAIL = """
    SELECT 1 AS merge_round, m1.pair AS merged_pair,
           replace(m1.pair, ' ', '') AS new_symbol,
           m1.cnt AS pair_count, v1.vocab AS vocab_size_after
    FROM m1 CROSS JOIN v1
    UNION ALL
    SELECT 2, m2.pair, replace(m2.pair, ' ', ''), m2.cnt, v2.vocab
    FROM m2 CROSS JOIN v2
    UNION ALL
    SELECT 3, m3.pair, replace(m3.pair, ' ', ''), m3.cnt, v3.vocab
    FROM m3 CROSS JOIN v3
"""


@query(
    "text_bpe_merge_induction",
    oracle="""
    WITH words AS (
        SELECT tok AS w, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
    ), sym0 AS (
        SELECT w, freq,
               ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
        FROM words
    ), """
    + ", ".join(_bpe_pair_cte_duck(k) for k in (1, 2, 3))
    + _BPE_TAIL,
)
def text_bpe_merge_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule INDUCTION (Sennrich et al. 2016) — the tokenizer-
    TRAINING kernel, where text_bpe_token_count is the application side:
    three unrolled merge rounds, each = count corpus-weighted adjacent
    symbol pairs -> take the most frequent (ties lexicographic) ->
    apply the merge everywhere -> measure the grown symbol vocabulary.
    On the fixture it learns er / in / ow (from ORDER/CUSTOMER/FILTER/
    WINDOW mass) growing the symbol inventory 24 -> 27.

    The distributed shape is what matters: ONE corpus scan builds the
    (word, freq) table, and every merge round iterates over that
    VOCABULARY-sized table — pair counting explodes ~|word| symbols per
    vocab row weighted by freq (map-combinable), argmax is a
    TakeOrdered of the pair table, and the merge is a broadcast 1-row
    cross join + string replace. This corpus-once / iterate-on-vocab
    split is exactly how production BPE trainers (HF tokenizers,
    SentencePiece in count mode) scale, and why the 40-symbol explode
    bound is a per-WORD cap, not a corpus parameter.

    Honest deviation, identically spelled on both engines: the merge
    application is a DOUBLE left-to-right non-overlapping string
    replace over the padded symbol string, which equals greedy BPE
    whenever no same-symbol run exceeds 3 (the fixture's max run is 2;
    a run of 4+ like 'aaaa' would keep an unmerged straggler where
    greedy pairs them all). Ties in pair frequency break by pair text
    on both engines; all counts exact BIGINTs — no floats anywhere."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    # Vocabulary-sized state, localCheckpoint-materialized per round
    # (the CC/PageRank iteration convention): a first draft expressed
    # the three rounds as one nested spark.sql CTE chain and Catalyst
    # INLINED every reference — 21 corpus scans in the physical plan.
    # The loop keeps exactly ONE corpus scan (the word count) and makes
    # each round's work provably vocab-bound.
    sym = words.select(
        "w",
        "freq",
        F.concat(
            F.lit(" "), F.concat_ws(" ", F.split(F.col("w"), "")), F.lit(" ")
        ).alias("s"),
    ).localCheckpoint(eager=True)
    out = None
    for k in (1, 2, 3):
        syms = sym.select(
            "freq", F.split(F.trim(F.col("s")), " ").alias("syms")
        )
        pairs = (
            syms.select(
                "freq",
                "syms",
                F.explode(F.sequence(F.lit(1), F.lit(40))).alias("i"),
            )
            .filter(F.col("i") < F.size("syms"))
            .select(
                F.concat(
                    F.element_at("syms", F.col("i")),
                    F.lit(" "),
                    F.element_at("syms", F.col("i") + 1),
                ).alias("pair"),
                "freq",
            )
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        m = (
            pairs.orderBy(F.col("cnt").desc(), "pair")
            .limit(1)
            .select(
                "pair",
                "cnt",
                F.concat(F.lit(" "), F.col("pair"), F.lit(" ")).alias("pat"),
                F.concat(
                    F.lit(" "),
                    F.regexp_replace(F.col("pair"), " ", ""),
                    F.lit(" "),
                ).alias("rep"),
            )
            .localCheckpoint(eager=True)
        )
        sym = (
            sym.crossJoin(F.broadcast(m))
            .select(
                "w",
                "freq",
                F.replace(
                    F.replace(F.col("s"), F.col("pat"), F.col("rep")),
                    F.col("pat"),
                    F.col("rep"),
                ).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
        v = sym.select(
            F.explode(F.split(F.trim(F.col("s")), " ")).alias("sym")
        ).agg(F.countDistinct("sym").cast("long").alias("vocab_size_after"))
        row_k = m.crossJoin(F.broadcast(v)).select(
            F.lit(k).cast("int").alias("merge_round"),
            F.col("pair").alias("merged_pair"),
            F.regexp_replace(F.col("pair"), " ", "").alias("new_symbol"),
            F.col("cnt").alias("pair_count"),
            "vocab_size_after",
        )
        out = row_k if out is None else out.unionAll(row_k)
    return out


@query(
    "text_vocab_coverage_oov",
    oracle="""
    WITH freq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
    ), ranked AS (
        SELECT tok, n,
               row_number() OVER (ORDER BY n DESC, tok) AS rnk,
               CAST(sum(n) OVER (ORDER BY n DESC, tok
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_n,
               CAST(sum(n) OVER () AS BIGINT) AS total_n,
               CAST(count(*) OVER () AS BIGINT) AS n_types
        FROM freq
    )
    SELECT CAST(k AS BIGINT) AS vocab_size,
           max(n_types) AS n_types_total,
           max(CASE WHEN rnk = k THEN cum_n END) AS covered_occurrences,
           max(total_n) AS total_occurrences,
           CAST(max(CASE WHEN rnk = k THEN cum_n END) * 1000000
                // max(total_n) AS BIGINT) AS coverage_ppm
    FROM ranked
    CROSS JOIN (SELECT unnest([5, 10, 20]) AS k)
    WHERE rnk <= k
    GROUP BY k
    """,
)
def text_vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-budget coverage curve: what fraction of all token
    OCCURRENCES the top-k most frequent types cover, for k = 5/10/20 —
    the first number a tokenizer-vocab-size decision reads (the
    complement is the OOV rate a k-entry vocabulary eats), and the
    frequency-mass view Zipf's law (text_zipf_fit) implies but doesn't
    report. Cumulative mass comes from ONE ranked running-sum window
    over the type-frequency table (vocabulary-sized, not corpus-sized —
    the corpus collapses to (type, count) first, the same fold-then-rank
    posture as agg_rfm_segmentation); the k ladder then reads the
    cumulative value AT rank k. Ties in frequency break by token text
    on both engines. Integer ppm output, no doubles."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wo = W.orderBy(F.col("n").desc(), "tok")
    ranked = freq.select(
        "tok",
        "n",
        F.row_number().over(wo).alias("rnk"),
        F.sum("n").over(wo.rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_n"),
        F.sum("n").over(W.partitionBy()).cast("long").alias("total_n"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("long").alias("n_types"),
    )
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(5), F.lit(10), F.lit(20))).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(ks))
        .filter(F.col("rnk") <= F.col("k"))
        .groupBy(F.col("k").cast("long").alias("vocab_size"))
        .agg(
            F.max("n_types").alias("n_types_total"),
            F.max(F.when(F.col("rnk") == F.col("k"), F.col("cum_n"))).alias(
                "covered_occurrences"
            ),
            F.max("total_n").alias("total_occurrences"),
            F.expr(
                "CAST(max(CASE WHEN rnk = k THEN cum_n END) * 1000000"
                " div max(total_n) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


@query(
    "text_keyness_loglikelihood",
    oracle="""
    WITH tok AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS a
        FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY source, tok
    ), tot AS (
        SELECT source, tok, a,
               CAST(sum(a) OVER (PARTITION BY source) AS BIGINT) AS n1,
               CAST(sum(a) OVER (PARTITION BY tok) AS BIGINT) AS t_all,
               CAST(sum(a) OVER () AS BIGINT) AS n_all
        FROM tok
    ), g AS (
        SELECT source, tok, a,
               t_all - a AS b, n1, n_all - n1 AS n2,
               n1 * (t_all * 1.0) / n_all AS ea,
               (n_all - n1) * (t_all * 1.0) / n_all AS eb
        FROM tot
    ), scored AS (
        SELECT source, tok, a, b,
               round(2 * (CASE WHEN a > 0 THEN a * ln(a / ea) ELSE 0 END
                          + CASE WHEN b > 0 THEN b * ln(b / eb)
                                 ELSE 0 END), 6) AS g2
        FROM g
        WHERE a * 1.0 / n1 > b * 1.0 / nullif(n2, 0)
    )
    SELECT source, tok, a AS n_in_source, b AS n_elsewhere, g2
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY source ORDER BY g2 DESC, tok) AS rn
        FROM scored)
    WHERE rn <= 3
    """,
)
def text_keyness_loglikelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyness analysis — per-source SIGNIFICANT terms by the
    log-likelihood ratio G^2 (Dunning 1993; the statistic behind corpus
    linguistics' keyword lists and Elasticsearch's significant_terms):
    for each (source, token), compare the observed in-source count
    against its expectation under the pooled corpus and keep the top 3
    OVERUSED terms per source. Where TF-IDF ranks by rarity and PMI by
    pairwise association, G^2 is the calibrated significance test — it
    doesn't overreward hapaxes the way PMI does, which is why
    significant-terms APIs default to it.

    One token-count aggregate over the corpus; the per-source and
    per-token margins come from PARTITIONED windows over that
    vocabulary-x-source table (≤|sources| rows per token key — no hot
    partition), while the grand total is a 1-row aggregate broadcast
    back in (r12: it was a `sum over ()` window, which funnels the
    VOCAB-sized grid through one task — the empty-spec shape the
    widened plan-audit detector now catches; a raw web vocabulary makes
    that a real straggler). The grid feeding both consumers is persisted
    above the tfidf size gate so the corpus folds once; then one rank
    window for the top 3. G^2's x*ln(x/E) terms are doubles from exact counts
    with identical spellings, zero-guarded exactly where the count is
    zero, rounded 6dp BEFORE ranking (tok tie-break)."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("a"))
    )
    from presto_truffle_spark.cache import input_bytes, scoped_persist

    if input_bytes(sf_dir, "documents") >= _TFIDF_PERSIST_MIN_BYTES:
        tok = scoped_persist(spark, "text.keyness.tok", tok)
    n_all_df = tok.agg(F.sum("a").cast("long").alias("n_all"))
    tot = tok.crossJoin(F.broadcast(n_all_df)).select(
        "source",
        "tok",
        "a",
        F.sum("a").over(W.partitionBy("source")).cast("long").alias("n1"),
        F.sum("a").over(W.partitionBy("tok")).cast("long").alias("t_all"),
        "n_all",
    )
    g = tot.select(
        "source",
        "tok",
        "a",
        (F.col("t_all") - F.col("a")).alias("b"),
        "n1",
        (F.col("n_all") - F.col("n1")).alias("n2"),
        (F.col("n1") * (F.col("t_all") * F.lit(1.0)) / F.col("n_all")).alias(
            "ea"
        ),
        (
            (F.col("n_all") - F.col("n1"))
            * (F.col("t_all") * F.lit(1.0))
            / F.col("n_all")
        ).alias("eb"),
    )
    g2 = F.round(
        2
        * (
            F.when(
                F.col("a") > 0, F.col("a") * F.log(F.col("a") / F.col("ea"))
            ).otherwise(0.0)
            + F.when(
                F.col("b") > 0, F.col("b") * F.log(F.col("b") / F.col("eb"))
            ).otherwise(0.0)
        ),
        6,
    )
    scored = g.filter(
        F.col("a") * F.lit(1.0) / F.col("n1")
        > F.col("b") * F.lit(1.0) / F.nullif(F.col("n2"), F.lit(0))
    ).select("source", "tok", "a", "b", g2.alias("g2"))
    return (
        scored.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("source").orderBy(F.col("g2").desc(), "tok")
            ),
        )
        .filter(F.col("rn") <= 3)
        .select(
            "source",
            "tok",
            F.col("a").alias("n_in_source"),
            F.col("b").alias("n_elsewhere"),
            "g2",
        )
    )


@query(
    "text_dispersion_gries_dp",
    oracle="""
    WITH toks AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
    ), doc_sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dn FROM toks
        GROUP BY doc_id
    ), cells AS (
        SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY tok, doc_id
    ), grid AS (
        SELECT t.tok, d.doc_id, d.dn, coalesce(c.c, 0) AS c,
               t.f
        FROM (SELECT tok, CAST(sum(c) AS BIGINT) AS f FROM cells
              GROUP BY tok) t
        CROSS JOIN doc_sizes d
        LEFT JOIN cells c ON c.tok = t.tok AND c.doc_id = d.doc_id
    ), dev AS (
        SELECT tok, f,
               abs(c * 1.0 / f
                   - dn * 1.0 / CAST(sum(dn) OVER (PARTITION BY tok)
                                     AS BIGINT)) AS dev
        FROM grid
    ), tot AS (
        SELECT tok, f, sum(dev) / 2 AS dp
        FROM dev GROUP BY tok, f
    )
    SELECT tok, f AS total_occurrences, round(dp, 6) AS dispersion_dp
    FROM tot
    ORDER BY round(dp, 6) DESC, tok
    """,
)
def text_dispersion_gries_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term dispersion via Gries' DP (Deviation of Proportions, 2008) —
    the corpus-linguistics burstiness measure: for each term, half the
    L1 distance between where its occurrences actually fall (share per
    document) and where they would fall if spread like the text itself
    (each document's size share). DP ~ 0 = evenly dispersed function
    word; DP -> 1 = bursty, concentrated in few documents. This is the
    ACROSS-DOCUMENT axis the frequency-based ops miss: keyness
    (text_keyness_loglikelihood) compares sources, TF-IDF rewards
    rarity, DP distinguishes a 1000-occurrence term in one doc from the
    same count spread over 1000 docs — exactly the signal that flags
    template/boilerplate tokens for cleanup.

    Shape: one (term, doc) cell count, one doc-size table, and the
    dense grid their cross join implies — vocabulary x documents, the
    honest cost of an exact DP because absent cells contribute |0 -
    size_share| (31 x 500 here; at a real vocabulary the practical
    variant truncates to top-K terms first — the fold itself is
    unchanged). Shares are exact-integer ratios; the L1 fold is a
    bounded-magnitude double sum per term, rounded 6dp before the
    deterministic (dp desc, tok) ordering."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    cells = toks.groupBy("tok", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    from presto_truffle_spark.cache import scoped_persist

    cells = scoped_persist(spark, "text.dispersion.cells", cells)
    # doc sizes and term totals both derive from the PERSISTED cell
    # table (sum of per-token counts per doc == the doc's token count),
    # so the corpus tokenize pass runs exactly once (rescan audit: the
    # original toks-based doc_sizes re-scanned documents).
    doc_sizes = cells.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("dn")
    )
    terms = cells.groupBy("tok").agg(F.sum("c").cast("long").alias("f"))
    grid = (
        terms.crossJoin(doc_sizes)
        .join(cells, ["tok", "doc_id"], "left")
        .select(
            "tok",
            "f",
            "dn",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    dn_tot = F.sum("dn").over(W.partitionBy("tok")).cast("long")
    with_share = grid.select(
        "tok",
        "f",
        (
            F.abs(
                F.col("c") * F.lit(1.0) / F.col("f")
                - F.col("dn") * F.lit(1.0) / dn_tot
            )
        ).alias("dev"),
    )
    tot = with_share.groupBy("tok", "f").agg(
        (F.sum("dev") / 2).alias("dp")
    )
    return tot.select(
        "tok",
        F.col("f").alias("total_occurrences"),
        F.round("dp", 6).alias("dispersion_dp"),
    ).orderBy(F.col("dispersion_dp").desc(), "tok")


@query(
    "text_cooccurrence_matrix",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ')[i] AS tok, i
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1,
                          len(string_split(text, ' ')))) AS i
            FROM documents)
    ), pairs AS (
        SELECT doc_id, tok,
               lead(tok, 1) OVER w AS nxt1,
               lead(tok, 2) OVER w AS nxt2
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ), weighted AS (
        SELECT least(tok, nxt1) AS w1, greatest(tok, nxt1) AS w2,
               1000000 AS wt
        FROM pairs WHERE nxt1 IS NOT NULL
        UNION ALL
        SELECT least(tok, nxt2), greatest(tok, nxt2), 500000
        FROM pairs WHERE nxt2 IS NOT NULL
    )
    SELECT w1, w2,
           CAST(sum(wt) AS BIGINT) AS cooc_weight_ppm,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM weighted
    GROUP BY w1, w2
    ORDER BY cooc_weight_ppm DESC, w1, w2
    LIMIT 20
    """,
)
def text_cooccurrence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-weighted token co-occurrence counts — the sparse matrix
    word-vector training consumes (GloVe's X_ij with the standard 1/d
    window weighting, window +-2): each adjacent pair contributes
    weight 1, each distance-2 pair weight 1/2, symmetrized by
    normalizing pair order (least/greatest), top 20 cells emitted.
    Where text_pmi_collocations scores document-level association and
    text_bigram_surprisal models adjacency probability, this op builds
    the raw TRAINING ARTIFACT — the co-occurrence counts themselves —
    which is why weights stay exact integer ppm (1/d as 1000000/d)
    rather than floats: a reproducible matrix shard is the contract.

    The window trick keeps it one pass: lead(1) and lead(2) over a
    single per-document position ordering produce every within-window
    pair without any self-join on positions — the shuffle is one
    (doc_id) partition sort plus the final (w1, w2) count; cells are
    vocabulary^2-bounded regardless of corpus size, and the 1/d ladder
    extends by adding lead(k) columns, not passes."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("i", "tok"),
    )
    wdoc = W.partitionBy("doc_id").orderBy("i")
    pairs = toks.select(
        "tok",
        F.lead("tok", 1).over(wdoc).alias("nxt1"),
        F.lead("tok", 2).over(wdoc).alias("nxt2"),
    )
    # Both distance ladders ride ONE pass: each row explodes into its
    # (d=1, d=2) pair structs (NULL-guarded — Spark least/greatest SKIP
    # nulls, so an unguarded least(tok, NULL) would fabricate pairs at
    # document tails), then a filter drops the absent ones. The original
    # p1-union-p2 spelling scanned the corpus once per distance
    # (rescan audit).
    def pstruct(nxt, wt):
        return F.struct(
            F.when(F.col(nxt).isNotNull(), F.least("tok", nxt)).alias(
                "w1"
            ),
            F.when(F.col(nxt).isNotNull(), F.greatest("tok", nxt)).alias(
                "w2"
            ),
            F.lit(wt).alias("wt"),
        )

    weighted = (
        pairs.select(
            F.explode(
                F.array(pstruct("nxt1", 1000000), pstruct("nxt2", 500000))
            ).alias("p")
        )
        .select("p.*")
        .filter(F.col("w1").isNotNull())
    )
    return (
        weighted
        .groupBy("w1", "w2")
        .agg(
            F.sum("wt").cast("long").alias("cooc_weight_ppm"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
        .orderBy(F.col("cooc_weight_ppm").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "text_langid_cohen_kappa",
    oracle=f"""
    {_LANGID_PRED_SQL}, m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(CASE WHEN label_lang = pred_lang THEN 1 END)
                    AS BIGINT) AS agree
        FROM preds
    ), margins AS (
        SELECT CAST(sum(n_label * n_pred) AS BIGINT) AS chance_num
        FROM (
            SELECT l.lang,
                   CAST(coalesce(nl.c, 0) AS BIGINT) AS n_label,
                   CAST(coalesce(np.c, 0) AS BIGINT) AS n_pred
            FROM (SELECT label_lang AS lang FROM preds
                  UNION SELECT pred_lang FROM preds) l
            LEFT JOIN (SELECT label_lang AS lang, count(*) AS c
                       FROM preds GROUP BY 1) nl ON l.lang = nl.lang
            LEFT JOIN (SELECT pred_lang AS lang, count(*) AS c
                       FROM preds GROUP BY 1) np ON l.lang = np.lang
        )
    )
    SELECT n,
           round(agree * 1.0 / nullif(n, 0), 6) AS observed_agreement,
           round(chance_num * 1.0 / nullif(n * n, 0), 6)
               AS chance_agreement,
           round((agree * 1.0 / nullif(n, 0)
                  - chance_num * 1.0 / nullif(n * n, 0))
                 / nullif(1 - chance_num * 1.0 / nullif(n * n, 0), 0), 6)
               AS cohen_kappa
    FROM m CROSS JOIN margins
    """,
)
def text_langid_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the langid heuristic and the ground-truth
    lang column — the chance-corrected scalar that text_langid_confusion's
    matrix summarizes to: observed agreement minus the agreement two
    INDEPENDENT raters with these marginals would reach by luck,
    normalized by the headroom above luck. The correction is the whole
    point (the fixture's honest ~0.44 raw accuracy shrinks further once
    4-way chance at these marginals is removed) — raw accuracy flatters
    any classifier whose label distribution mimics the priors, which is
    exactly how weak langid gates slip into corpora. Kappa is also the
    standard inter-ANNOTATOR agreement metric, so this is the evaluation
    shape a labeling pipeline reuses verbatim with two annotator columns.

    One prediction scan -> one agreement fold + two marginal counts
    joined over the <=4-language key; the chance term sum(n_l * n_p) is
    an exact BIGINT; the three ratios are the only doubles, 6dp,
    nullif-guarded."""
    preds = text_langid_heuristic(spark, sf_dir)
    from presto_truffle_spark.cache import scoped_persist

    preds = scoped_persist(spark, "text.kappa.preds", preds)
    m = preds.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("label_lang") == F.col("pred_lang"), 1))
        .cast("long")
        .alias("agree"),
    )
    nl = preds.groupBy(F.col("label_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_label")
    )
    np_ = preds.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pred")
    )
    langs = (
        preds.select(F.col("label_lang").alias("lang"))
        .union(preds.select("pred_lang"))
        .distinct()
    )
    margins = (
        langs.join(nl, "lang", "left")
        .join(np_, "lang", "left")
        .agg(
            F.sum(
                F.coalesce(F.col("n_label"), F.lit(0))
                * F.coalesce(F.col("n_pred"), F.lit(0))
            )
            .cast("long")
            .alias("chance_num")
        )
    )
    po = F.col("agree") * F.lit(1.0) / F.nullif(F.col("n"), F.lit(0))
    pe = (
        F.col("chance_num")
        * F.lit(1.0)
        / F.nullif(F.col("n") * F.col("n"), F.lit(0))
    )
    return m.crossJoin(F.broadcast(margins)).select(
        "n",
        F.round(po, 6).alias("observed_agreement"),
        F.round(pe, 6).alias("chance_agreement"),
        F.round((po - pe) / F.nullif(1 - pe, F.lit(0)), 6).alias(
            "cohen_kappa"
        ),
    )

_EN_MARKER_SQL = ", ".join(repr(m) for m in _LANG_MARKERS["en"])


@query(
    "eval_binary_classifier",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ), probs AS (
        SELECT doc_id, y,
               least(len(list_filter(toks, x -> x IN ({_EN_MARKER_SQL})))
                     * 5.0 / len(toks), CAST(1.0 AS DOUBLE)) AS p
        FROM t
    ), ranked AS (
        SELECT y, p,
               CAST(2 * rank() OVER (ORDER BY p)
                    + count(*) OVER (PARTITION BY p) - 1 AS BIGINT)
                   AS dbl_rank
        FROM probs
    ), g AS (
        SELECT CAST(sum(CASE WHEN y = 1 THEN dbl_rank ELSE 0 END) AS BIGINT)
                   AS sr2_pos,
               CAST(sum(y) AS BIGINT) AS n1,
               CAST(count(*) - sum(y) AS BIGINT) AS n0,
               round(avg((p - y) * (p - y)), 6) AS brier
        FROM ranked
    ), bins AS (
        SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(p), 6) AS mean_pred,
               round(avg(y * 1.0), 6) AS obs_rate
        FROM probs
        GROUP BY 1
    )
    SELECT bin_id, n_docs, mean_pred, obs_rate,
           round((sr2_pos - n1 * (n1 + 1)) * 1.0
                 / nullif(2.0 * n1 * n0, 0), 6)
               AS roc_auc,
           brier
    FROM bins CROSS JOIN g
    """,
)
def eval_binary_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation harness — ROC-AUC, Brier score, and
    a decile calibration (reliability-diagram) table in ONE query: the
    scorecard a training-data pipeline attaches to every heuristic
    filter before trusting it at 100 TB. The classifier under test is
    real and in-repo: the graded en-marker DENSITY score
    p = min(5·|en-markers|/|tokens|, 1) behind `text_langid_heuristic`,
    against the fixture's lang ground truth (y = lang='en').

    Honest fixture finding (probed before registration): the synthetic
    langs share ONE vocabulary — en-marker density is 0.0306 for non-en
    vs 0.0290 for en docs — so AUC is ≈chance (0.47 sf0.01 / 0.51
    sf0.1), consistent with `text_langid_confusion`'s 0.44 accuracy.
    The harness is the capability; 8-10 calibration bins engage with a
    graded score where the raw marker-RATIO score collapsed to {{0,1}}
    (first draft, dropped).

    AUC is the rank-sum (Mann-Whitney) formulation with the
    `agg_mann_whitney_u` exactness trick: tie-averaged ranks carried as
    DOUBLED integers (2·rank + ties−1, exact BIGINT), so
    AUC = (ΣR₂⁺ − n₁(n₁+1)) / (2·n₁·n₀) is one exact-integer ratio and
    a single 6dp division. Brier = mean((p−y)²) in double — every term
    in [0,1], no cancellation (the welch_ttest magnitude trap does not
    apply). Calibration: bin = min(⌊10p⌋, 9), mean predicted vs
    observed rate per bin.

    Scale shape: the score is map-side; exact AUC needs ONE global sort
    (the bucketed-histogram AUC is the documented swap-in at extreme
    cardinality); bins are a map-combinable groupBy; the one-row
    metrics table broadcast-crosses onto the bins."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.least(
            _marker_count(toks, _LANG_MARKERS["en"]) * 5.0 / F.size(toks),
            F.lit(1.0),
        ).alias("p"),
    )
    from presto_truffle_spark.cache import scoped_persist

    scored = scoped_persist(spark, "text.evalbc.scored", scored)
    ranked = scored.select(
        "y",
        "p",
        (
            2 * F.rank().over(W.orderBy("p"))
            + F.count(F.lit(1)).over(W.partitionBy("p"))
            - 1
        )
        .cast("long")
        .alias("dbl_rank"),
    )
    g = ranked.agg(
        F.sum(F.when(F.col("y") == 1, F.col("dbl_rank")).otherwise(0))
        .cast("long")
        .alias("sr2_pos"),
        F.sum("y").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n0"),
        F.round(
            F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))), 6
        ).alias("brier"),
    )
    bins = scored.groupBy(
        F.least(F.floor(F.col("p") * 10), F.lit(9))
        .cast("long")
        .alias("bin_id")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("p"), 6).alias("mean_pred"),
        F.round(F.avg(F.col("y") * 1.0), 6).alias("obs_rate"),
    )
    return bins.crossJoin(F.broadcast(g)).select(
        "bin_id",
        "n_docs",
        "mean_pred",
        "obs_rate",
        F.round(
            (F.col("sr2_pos") - F.col("n1") * (F.col("n1") + 1))
            * 1.0
            / F.nullif(2.0 * F.col("n1") * F.col("n0"), F.lit(0.0)),
            6,
        ).alias("roc_auc"),
        "brier",
    )


_DISP_TOPK = 20


@query(
    "text_dispersion_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
    ), cells AS (
        SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY tok, doc_id
    ), doc_sizes AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS dn FROM cells
        GROUP BY doc_id
    ), terms AS (
        SELECT tok, f, rk FROM (
            SELECT tok, CAST(sum(c) AS BIGINT) AS f,
                   row_number() OVER (ORDER BY sum(c) DESC, tok) AS rk
            FROM cells GROUP BY tok)
        WHERE rk <= {_DISP_TOPK}
    ), grid AS (
        SELECT t.tok, t.f, t.rk, d.doc_id, d.dn, coalesce(c.c, 0) AS c
        FROM terms t
        CROSS JOIN doc_sizes d
        LEFT JOIN cells c ON c.tok = t.tok AND c.doc_id = d.doc_id
    ), dev AS (
        SELECT tok, f, rk,
               abs(c * 1.0 / f
                   - dn * 1.0 / CAST(sum(dn) OVER (PARTITION BY tok)
                                     AS BIGINT)) AS dev
        FROM grid
    )
    SELECT tok, CAST(rk AS BIGINT) AS freq_rank,
           f AS total_occurrences,
           round(sum(dev) / 2, 6) AS dispersion_dp
    FROM dev GROUP BY tok, rk, f
    """,
)
def text_dispersion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`text_dispersion_gries_dp` with the grid BOUNDED to the top-K
    most frequent terms (K=20, ties by token) — the production variant
    the dense-grid op's docstring promises: exact DP needs the full
    vocabulary x documents grid because ABSENT cells contribute
    |0 − size_share|, so at a real vocabulary the grid is truncated to
    the terms that matter (the frequent ones are where boilerplate
    lives; a rare term's DP is ≈1 by construction and needs no grid).
    Grid cost drops from |V|·|D| to K·|D| — scale-invariant in
    vocabulary. Engages on the fixture: 31-term vocab → the 11
    least-frequent terms are pruned and the emitted freq_rank column
    pins the selection order. Same exact-integer shares + 6dp L1 fold
    as the full op; the K-term table broadcast-joins the cell table.

    Top-K selection is TakeOrderedAndProject (per-partition heads, one
    driver merge — the corpus_priority_sample discipline), NOT a
    row_number over a global vocabulary sort (the r10 draft's
    single-partition window, fixed per VERDICT r10 #3); the only
    unpartitioned window left ranks the already-materialized K-row
    frame."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    cells = toks.groupBy("tok", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    from presto_truffle_spark.cache import scoped_persist

    cells = scoped_persist(spark, "text.dispersion_topk.cells", cells)
    doc_sizes = cells.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("dn")
    )
    topk = (
        cells.groupBy("tok")
        .agg(F.sum("c").cast("long").alias("f"))
        .orderBy(F.col("f").desc(), "tok")
        .limit(_DISP_TOPK)
    )
    terms = topk.select(
        "tok",
        "f",
        F.row_number()
        .over(W.orderBy(F.col("f").desc(), "tok"))
        .alias("rk"),
    )
    grid = (
        F.broadcast(terms)
        .crossJoin(doc_sizes)
        .join(cells, ["tok", "doc_id"], "left")
        .select(
            "tok",
            "f",
            "rk",
            "dn",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    dn_tot = F.sum("dn").over(W.partitionBy("tok")).cast("long")
    dev = grid.select(
        "tok",
        "f",
        "rk",
        F.abs(
            F.col("c") * F.lit(1.0) / F.col("f")
            - F.col("dn") * F.lit(1.0) / dn_tot
        ).alias("dev"),
    )
    return dev.groupBy("tok", "rk", "f").agg(
        (F.sum("dev") / 2).alias("dp")
    ).select(
        "tok",
        F.col("rk").cast("long").alias("freq_rank"),
        F.col("f").alias("total_occurrences"),
        F.round("dp", 6).alias("dispersion_dp"),
    )


_LM_TRAIN_HI = "cd"  # the corpus_hash_split train boundary (~80%)
_BI = ("prev", "cur")


def _count(name: str):
    return F.count(F.lit(1)).cast("long").alias(name)


def _micro_nats(p):
    """ln(p) as an integer micro-nat: round(ln(p)·1e6)::long."""
    return F.round(F.log(p) * 1000000).cast("long")


def _add_one_den():
    # Weighted floors compute w·(c+1)/den in the oracles' order, not
    # w·_add_one(c): the doubles, and so the micro-nats, could differ.
    return F.col("n") + F.col("v") + F.lit(1.0)


def _add_one(c: str):
    """The add-one unigram (c + 1)/(N + V + 1), over ``tstat``."""
    return (F.col(c) + 1) / _add_one_den()


def _jm_bigram_p():
    """0.7·c(prev,cur)/c(prev) + 0.3·(c(cur)+1)/(N+V+1); an unseen
    context makes the bigram term 0, and the add-one floor carries."""
    return (
        F.when(F.col("cprev") > 0, F.lit(0.7) * F.col("cbi") / F.col("cprev"))
        .otherwise(F.lit(0.0))
        + F.lit(0.3) * (F.col("cuni") + 1) / _add_one_den()
    )


def _fold(rows: DataFrame, grams, count: str, keys=()) -> DataFrame:
    """Explode the n-gram array ``grams`` of every row and count each
    distinct n-gram into ``count``: struct n-grams group by their
    ``keys`` fields, plain tokens by ``tok``."""
    if not keys:
        return rows.select(F.explode(grams).alias("tok")).groupBy("tok").agg(
            _count(count)
        )
    by = [F.col(f"g.{k}").alias(k) for k in keys]
    return rows.select(F.explode(grams).alias("g")).groupBy(*by).agg(_count(count))


def _lookup(grams: DataFrame, *tables: DataFrame) -> DataFrame:
    """Left-join each train count table onto ``grams`` on the columns
    they share; a count the train slice never saw is 0."""
    out, counts = grams, []
    for t in tables:
        on = [c for c in t.columns if c in out.columns]
        counts += [c for c in t.columns if c not in on]
        out = out.join(t, on, "left")
    return out.select(
        *grams.columns, *(F.coalesce(c, F.lit(0)).alias(c) for c in counts)
    )


def _classes(grams: DataFrame, *tables: DataFrame) -> DataFrame:
    """Fold held-out n-gram counts ``m`` into classes of equal train
    counts (the `_lookup` columns)."""
    looked = _lookup(grams, *tables)
    return looked.groupBy(*looked.columns[len(grams.columns) :]).agg(
        F.sum("m").cast("long").alias("m")
    )


def _perplexity(stats, body, p_body, n_classes, head, p_head, *train_cols):
    """Held-out perplexity of a model that scores the ``body`` class grid
    with ``p_body`` and each document's context-free first tokens (the
    ``head`` grid) with ``p_head``: exact class sums, one division,
    ``exp``. ``stats`` is the one-row frame the formulas and
    ``train_cols`` read."""
    stats = F.broadcast(stats)

    def total(cls, p, part, *more):
        return (
            cls.crossJoin(stats)
            .select("m", _micro_nats(p).alias("li"))
            .agg(
                F.sum("m").cast("long").alias(f"m_{part}"),
                F.sum(F.col("m") * F.col("li")).cast("long").alias(f"sl_{part}"),
                *more,
            )
        )

    m = F.col("m_body") + F.col("m_head")
    avg = (F.col("sl_body") + F.col("sl_head")) * 1.0 / F.nullif(
        m * F.lit(1000000.0), F.lit(0.0)
    )
    return (
        total(body, p_body, "body", _count(n_classes))
        .crossJoin(F.broadcast(total(head, p_head, "head")))
        .crossJoin(stats)
        .select(
            *train_cols,
            m.alias("eval_tokens"),
            n_classes,
            F.round(avg, 6).alias("avg_logprob"),
            F.round(F.exp(-avg), 6).alias("perplexity"),
        )
    )


class _LMCounts:
    """The count tables of the language-model family, each built on
    first use, so a key builds only the tables it reads.

    * ``d`` — the documents as (doc_id, toks, is_train): ``toks`` splits
      the text on single spaces; ``is_train`` is the `corpus_hash_split`
      md5 boundary, so duplicates cannot straddle train and held-out.
      ``train`` and ``held_out`` are its two slices.
    * ``bigrams`` — each document's (prev, cur) struct array.
    * train folds: ``tr_bi`` (prev, cur, cbi), ``tr_ctx`` (prev, cprev =
      Σcbi, n1p = distinct continuations), ``tr_cont`` (cur, n1m =
      distinct contexts), ``tr_uni`` (tok, cuni) and the one-row
      ``tstat`` (n train tokens, v train types).
    * held-out folds: ``ev_bi`` (prev, cur, m) and ``head(k)`` — each
      document's first k tokens, the ones a k-context model cannot score
      (tok, m).

    ``d``, ``tr_bi`` and ``tr_uni`` are persisted, one site each: the
    bigram and trigram keys read each of them from three or more plan
    branches. The unigram key reads ``tr_uni`` from two and passes
    ``persist_unigrams=False``, so it persists only ``d``.

    Determinism discipline (every LM key): models read only exact
    integer counts. Held-out n-gram instances fold to exact counts per
    class of equal train-count tuples; each class's log-probability is
    frozen ONCE as an integer micro-nat (`_micro_nats` — ln over
    identical integer inputs is deterministic, so all instances of a
    class carry the same integer), and every total is an exact BIGINT
    (unigram: DECIMAL(38,0)) sum with no float-order exposure. The only
    doubles are the final divisions, rounded. Class grids are bounded by
    n-gram types, never by corpus volume; every count lookup is an
    equi-join on grouped n-gram keys (≤1 row per key, no hot-token
    skew).
    """

    def __init__(
        self, spark: SparkSession, sf_dir: str, persist_unigrams: bool = True
    ):
        self._spark = spark
        self._persist_unigrams = persist_unigrams
        text = F.col("text")
        self.d = self._persist(
            "text.lm.d",
            load_table(spark, sf_dir, "documents").select(
                "doc_id",
                F.split(text, " ").alias("toks"),
                (
                    F.substring(F.md5(text.cast("binary")), 1, 2) < _LM_TRAIN_HI
                ).alias("is_train"),
            ),
        )
        self.train = self.d.filter("is_train")
        self.held_out = self.d.filter(~F.col("is_train"))

    def _persist(self, site: str, df: DataFrame) -> DataFrame:
        from presto_truffle_spark.cache import scoped_persist

        return scoped_persist(self._spark, site, df)

    @cached_property
    def bigrams(self):
        sz = F.size("toks")
        return F.zip_with(
            F.slice("toks", 1, sz - 1),
            F.slice("toks", 2, sz - 1),
            lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
        )

    @cached_property
    def tr_bi(self) -> DataFrame:
        return self._persist(
            "text.lm.trbi", _fold(self.train, self.bigrams, "cbi", _BI)
        )

    @cached_property
    def tr_ctx(self) -> DataFrame:
        return self.tr_bi.groupBy("prev").agg(
            F.sum("cbi").cast("long").alias("cprev"), _count("n1p")
        )

    @cached_property
    def tr_cont(self) -> DataFrame:
        return self.tr_bi.groupBy("cur").agg(_count("n1m"))

    @cached_property
    def tr_uni(self) -> DataFrame:
        uni = _fold(self.train, "toks", "cuni")
        return self._persist("text.lm.truni", uni) if self._persist_unigrams else uni

    @cached_property
    def tstat(self) -> DataFrame:
        return self.tr_uni.agg(F.sum("cuni").cast("long").alias("n"), _count("v"))

    @cached_property
    def jm_tables(self) -> tuple[DataFrame, ...]:
        """The train counts `_jm_bigram_p` reads, keyed for `_lookup` on
        (prev, cur)."""
        return (
            self.tr_bi,
            self.tr_ctx.select("prev", "cprev"),
            self.tr_uni.withColumnRenamed("tok", "cur"),
        )

    @cached_property
    def ev_bi(self) -> DataFrame:
        return _fold(self.held_out, self.bigrams, "m", _BI)

    def head(self, k: int) -> DataFrame:
        toks = F.slice("toks", 1, F.least(F.lit(k), F.size("toks")))
        return _fold(self.held_out, toks, "m")


@query(
    "text_unigram_lm_perplexity",
    oracle=f"""
    WITH d AS (
        SELECT text, substr(md5(text), 1, 2) < '{_LM_TRAIN_HI}' AS is_train
        FROM documents
    ), tr_tok AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM d WHERE is_train
    ), ev_tok AS (
        SELECT unnest(string_split(text, ' ')) AS tok
        FROM d WHERE NOT is_train
    ), tc AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tr_tok GROUP BY tok
    ), tstat AS (
        SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
        FROM tc
    ), ec AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS m FROM ev_tok GROUP BY tok
    ), joined AS (
        SELECT coalesce(tc.c, 0) AS c, ec.m
        FROM ec LEFT JOIN tc ON ec.tok = tc.tok
    ), grid AS (
        SELECT c, CAST(sum(m) AS BIGINT) AS mc FROM joined GROUP BY c
    ), s AS (
        SELECT CAST(sum(mc) AS BIGINT) AS m_total,
               CAST(sum(CASE WHEN c = 0 THEN mc ELSE 0 END) AS BIGINT)
                   AS oov_tokens,
               CAST(sum(CAST(mc AS HUGEINT)
                        * CAST(round(ln(c + 1.0) * 1000000) AS BIGINT))
                    AS HUGEINT) AS sli,
               CAST(count(*) AS BIGINT) AS n_count_classes
        FROM grid
    ), den AS (
        SELECT CAST(round(ln(n + v + 1.0) * 1000000) AS BIGINT) AS li_den
        FROM tstat
    )
    SELECT tstat.n AS train_tokens, tstat.v AS train_vocab,
           s.m_total AS eval_tokens, s.oov_tokens,
           round(s.oov_tokens * 1.0 / nullif(s.m_total, 0), 6) AS oov_rate,
           round((s.sli - CAST(s.m_total AS HUGEINT) * den.li_den) * 1.0
                 / nullif(s.m_total * 1000000.0, 0), 6) AS avg_logprob,
           round(exp(-(s.sli - CAST(s.m_total AS HUGEINT) * den.li_den)
                     * 1.0 / nullif(s.m_total * 1000000.0, 0)), 6)
               AS perplexity,
           s.n_count_classes
    FROM tstat CROSS JOIN s CROSS JOIN den
    """,
)
def text_unigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out unigram-LM perplexity — the classic corpus-quality
    metric a training pipeline tracks release-over-release (a corpus
    whose heldout PPL jumps got noisier; one whose PPL collapses got
    templated): train an add-one-smoothed unigram LM on the
    `corpus_hash_split` train slice, score the remaining ~20% of tokens,
    PPL = exp(−mean log p), p(w) = (c_w + 1)/(N + V + 1) with the +1
    denominator slot standing for the single OOV class.

    Held-out tokens fold to (train count c, token count m_c) classes
    (the `_LMCounts` discipline): ln(c+1) is one micro-nat per class,
    ln(N+V+1) one for the whole model, so Σ m_c·li_c over the
    ≤|count-classes| grid (28 at sf0.01, 31 at sf0.1) is an exact
    DECIMAL(38,0) sum. Fixture honesty: the synthetic langs share one
    31-word vocabulary, so oov_rate = 0 and PPL ≈ 30 ≈ V — the harness
    is the capability; real corpora put OOV mass and the count-class
    grid to work.

    Scale shape: two map-combinable token folds (train counts, eval
    counts), one vocab-sized equi-join, then a count-class fold — no
    global sort, no window; nothing downstream of the folds is
    corpus-volume."""
    c = _LMCounts(spark, sf_dir, persist_unigrams=False)
    grid = _classes(_fold(c.held_out, "toks", "m"), c.tr_uni)
    s = grid.agg(
        F.sum("m").cast("long").alias("m_total"),
        F.sum(F.when(F.col("cuni") == 0, F.col("m")).otherwise(0))
        .cast("long")
        .alias("oov_tokens"),
        F.sum(F.col("m").cast("decimal(38,0)") * _micro_nats(F.col("cuni") + 1.0))
        .cast("decimal(38,0)")
        .alias("sli"),
        _count("n_count_classes"),
    )
    avg_lp = (
        F.col("sli")
        - F.col("m_total").cast("decimal(38,0)") * _micro_nats(_add_one_den())
    ).cast("double") / F.nullif(F.col("m_total") * F.lit(1000000.0), F.lit(0.0))
    return (
        F.broadcast(c.tstat)
        .crossJoin(s)
        .select(
            F.col("n").alias("train_tokens"),
            F.col("v").alias("train_vocab"),
            F.col("m_total").alias("eval_tokens"),
            "oov_tokens",
            F.round(
                F.col("oov_tokens")
                * 1.0
                / F.nullif(F.col("m_total") * F.lit(1.0), F.lit(0.0)),
                6,
            ).alias("oov_rate"),
            F.round(avg_lp, 6).alias("avg_logprob"),
            F.round(F.exp(-avg_lp), 6).alias("perplexity"),
            "n_count_classes",
        )
    )


# Shared DuckDB CTE chain: score EVERY document with the Jelinek-Mercer
# BIGRAM LM (the exact mixture `text_bigram_lm_perplexity` registers:
# 0.7·c(prev,cur)/c(prev) + 0.3·(c(cur)+1)/(N+V+1), first token of each
# doc under the pure add-one unigram), then assign perplexity tertiles
# with the bucketed-rank grid. Yields `lm_bucketed(doc_id, bucket, s,
# mt)`. r14 (VERDICT r13 #1): the r13 gate study measured head/tail
# precision 0.74–0.84 for this scorer vs 0.43/0.44 for the unigram —
# the registered gate now uses the measured-better LM; the determinism
# discipline (class log-probs frozen ONCE as integer micro-nats, exact
# BIGINT per-doc folds, one rounded division, integer histogram
# thresholds) is unchanged.
_CCNET_BUCKETED_CTES = f"""lm_d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               substr(md5(text), 1, 2) < '{_LM_TRAIN_HI}' AS is_train
        FROM documents
    ), lm_tr_bi AS (
        SELECT toks[i] AS prev, toks[i+1] AS cur,
               CAST(count(*) AS BIGINT) AS cbi
        FROM lm_d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        WHERE is_train GROUP BY 1, 2
    ), lm_tr_ctx AS (
        SELECT prev, CAST(sum(cbi) AS BIGINT) AS cprev
        FROM lm_tr_bi GROUP BY prev
    ), lm_tr_uni AS (
        SELECT toks[i] AS tok, CAST(count(*) AS BIGINT) AS cuni
        FROM lm_d, unnest(generate_series(1, len(toks))) AS t(i)
        WHERE is_train GROUP BY 1
    ), lm_tstat AS (
        SELECT CAST(sum(cuni) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS v
        FROM lm_tr_uni
    ), lm_doc_bi AS (
        SELECT doc_id, toks[i] AS prev, toks[i+1] AS cur,
               CAST(count(*) AS BIGINT) AS m
        FROM lm_d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        GROUP BY 1, 2, 3
    ), lm_bi_cls AS (
        SELECT e.doc_id, coalesce(b.cbi, 0) AS cbi,
               coalesce(cx.cprev, 0) AS cprev,
               coalesce(u.cuni, 0) AS cuni,
               CAST(sum(e.m) AS BIGINT) AS m
        FROM lm_doc_bi e
        LEFT JOIN lm_tr_bi b ON b.prev = e.prev AND b.cur = e.cur
        LEFT JOIN lm_tr_ctx cx ON cx.prev = e.prev
        LEFT JOIN lm_tr_uni u ON u.tok = e.cur
        GROUP BY 1, 2, 3, 4
    ), lm_bi_li AS (
        SELECT cbi, cprev, cuni,
               CAST(round(ln(
                   (CASE WHEN cprev > 0
                         THEN CAST(0.7 AS DOUBLE) * cbi / cprev
                         ELSE CAST(0 AS DOUBLE) END)
                   + CAST(0.3 AS DOUBLE) * (cuni + 1)
                     / (lm_tstat.n + lm_tstat.v + 1.0)) * 1000000)
                    AS BIGINT) AS li
        FROM (SELECT DISTINCT cbi, cprev, cuni FROM lm_bi_cls)
             CROSS JOIN lm_tstat
    ), lm_fi_cls AS (
        SELECT lm_d.doc_id, coalesce(u.cuni, 0) AS cuni
        FROM lm_d LEFT JOIN lm_tr_uni u ON u.tok = toks[1]
    ), lm_fi_li AS (
        SELECT cuni,
               CAST(round(ln((cuni + 1)
                             / (lm_tstat.n + lm_tstat.v + 1.0))
                          * 1000000) AS BIGINT) AS li
        FROM (SELECT DISTINCT cuni FROM lm_fi_cls) CROSS JOIN lm_tstat
    ), lm_doc_bi_sum AS (
        SELECT doc_id, CAST(sum(m * li) AS BIGINT) AS sum_li,
               CAST(sum(m) AS BIGINT) AS mb
        FROM lm_bi_cls JOIN lm_bi_li USING (cbi, cprev, cuni)
        GROUP BY doc_id
    ), lm_scored AS (
        SELECT f.doc_id,
               CAST(round((coalesce(b.sum_li, 0) + fl.li) * 1.0
                          / (coalesce(b.mb, 0) + 1)) AS BIGINT) AS s,
               CAST(coalesce(b.mb, 0) + 1 AS BIGINT) AS mt
        FROM lm_fi_cls f
        JOIN lm_fi_li fl ON fl.cuni = f.cuni
        LEFT JOIN lm_doc_bi_sum b ON b.doc_id = f.doc_id
    ), lm_bwq AS (
        SELECT max(abs(s)) // 10000 + 1 AS bw FROM lm_scored
    ), lm_hist AS (
        SELECT s - s % bw AS vb, CAST(count(*) AS BIGINT) AS nb
        FROM lm_scored CROSS JOIN lm_bwq GROUP BY 1
    ), lm_cum AS (
        SELECT vb, CAST(sum(nb) OVER (ORDER BY vb) AS BIGINT) AS cumn
        FROM lm_hist
    ), lm_tot AS (
        SELECT CAST(count(*) AS BIGINT) AS nd FROM lm_scored
    ), lm_thr AS (
        SELECT min(CASE WHEN cumn * 3 >= nd THEN vb END) AS t1,
               min(CASE WHEN cumn * 3 >= 2 * nd THEN vb END) AS t2
        FROM lm_cum CROSS JOIN lm_tot
    ), lm_bucketed AS (
        SELECT doc_id,
               CASE WHEN (s - s % bw) <= t1 THEN 'tail'
                    WHEN (s - s % bw) <= t2 THEN 'middle'
                    ELSE 'head' END AS bucket,
               s, mt
        FROM lm_scored CROSS JOIN lm_bwq CROSS JOIN lm_thr
    )"""


@query(
    "corpus_ccnet_quality_buckets",
    oracle=f"""
    WITH {_CCNET_BUCKETED_CTES}
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(mt) AS BIGINT) AS total_tokens,
           round(CAST(sum(s) AS DOUBLE) / count(*), 2) AS mean_score_micro
    FROM lm_bucketed
    GROUP BY 1
    """,
)
def corpus_ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus bucketing (Wenzek et al.,
    LREC'20): score every document by its per-token log-likelihood
    under the Jelinek-Mercer BIGRAM LM (`text_bigram_lm_perplexity`'s
    mixture, trained on the hash-split train slice), then split the
    corpus into perplexity TERTILES — head = most-fluent third, tail =
    noisiest — the pre-training curriculum/filter step CCNet runs with
    a 5-gram KenLM. r14 upgrade (VERDICT r13 #1): the r13 gate study
    measured head/tail tier-precision 0.74–0.84 for the bigram scorer
    vs 0.43/0.44 for the r4–r13 unigram scorer on the labeled rich
    fixture — the registered gate now scores with the measured-better
    LM (`tests/test_quality_gate_pin.py` pins the registered op's
    precision).

    Determinism discipline (three layers): (1) per-doc scores never
    sum floats — every bigram INSTANCE's log-prob is an integer
    micro-nat before any fold (the `_LMCounts` discipline per instance
    rather than per class: the BIGINT per-doc sum is order-free either
    way, and the per-class freeze cost 4 shuffles); each doc's FIRST
    token scores under the pure add-one unigram (the bigram op's
    convention, mirrored exactly); (2) the per-doc normalization is
    ONE double division rounded to integer micro-nats; (3) tertile
    thresholds come from the bucketed-rank discipline — a ≤1e4-bucket
    histogram of quantized scores with integer cumulative-count
    comparisons (cum·3 ≥ n, ≥ 2n) — never a global ntile sort.
    Boundary docs sharing a quantized bucket share a tertile, so
    tertile sizes are equal only to bucket resolution.

    Scale shape: bigram folds and per-doc sums are map-combinable; the
    training count tables are vocab²-bounded, the class log-prob table
    is class-grid-bounded, the score histogram ≤1e4 rows; threshold
    assignment broadcasts two integers. Nothing downstream of the
    folds is corpus-volume."""
    return (
        ccnet_doc_buckets(spark, sf_dir)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("mt").cast("long").alias("total_tokens"),
            F.round(
                F.sum("s").cast("double") / F.count(F.lit(1)), 2
            ).alias("mean_score_micro"),
        )
    )


def ccnet_doc_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CCNet scoring + tertile assignment (doc_id, bucket,
    s, mt) — the shared core of `corpus_ccnet_quality_buckets` and the
    bucket×dedup cross audit. Scores with the JM bigram LM since r14
    (VERDICT r13 #1); see the registered op's docstring for the
    integer micro-nat discipline."""
    from presto_truffle_spark.cache import scoped_persist

    c = _LMCounts(spark, sf_dir)
    stats = F.broadcast(c.tstat)
    doc_bi = c.d.select("doc_id", F.explode(c.bigrams).alias("g"))
    doc_bi_sum = (
        _lookup(doc_bi.select("doc_id", "g.prev", "g.cur"), *c.jm_tables)
        .crossJoin(stats)
        .groupBy("doc_id")
        .agg(
            F.sum(_micro_nats(_jm_bigram_p())).cast("long").alias("sum_li"),
            _count("mb"),
        )
    )
    first = c.d.select("doc_id", F.element_at("toks", 1).alias("tok"))
    scored = (
        _lookup(first, c.tr_uni)
        .crossJoin(stats)
        .select("doc_id", _micro_nats(_add_one("cuni")).alias("fi_li"))
        .join(doc_bi_sum, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                (F.coalesce("sum_li", F.lit(0)) + F.col("fi_li"))
                * 1.0
                / (F.coalesce("mb", F.lit(0)) + 1)
            )
            .cast("long")
            .alias("s"),
            (F.coalesce("mb", F.lit(0)) + 1).cast("long").alias("mt"),
        )
    )
    scored = scoped_persist(spark, "corpus.ccnet.scored", scored)
    bwq = scored.agg(
        F.expr("max(abs(s)) DIV 10000 + 1").cast("long").alias("bw")
    )
    withbw = scored.crossJoin(F.broadcast(bwq))
    hist = withbw.groupBy(
        (F.col("s") - F.col("s") % F.col("bw")).alias("vb")
    ).agg(_count("nb"))
    cum = hist.select(
        "vb",
        F.sum("nb")
        .over(W.orderBy("vb").rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("cumn"),
    )
    tot = scored.agg(_count("nd"))
    thr = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(F.col("cumn") * 3 >= F.col("nd"), F.col("vb"))
        ).alias("t1"),
        F.min(
            F.when(F.col("cumn") * 3 >= 2 * F.col("nd"), F.col("vb"))
        ).alias("t2"),
    )
    vb = F.col("s") - F.col("s") % F.col("bw")
    return withbw.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        F.when(vb <= F.col("t1"), "tail")
        .when(vb <= F.col("t2"), "middle")
        .otherwise("head")
        .alias("bucket"),
        "s",
        "mt",
    )


@query(
    "text_bigram_lm_perplexity",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               substr(md5(text), 1, 2) < '{_LM_TRAIN_HI}' AS is_train
        FROM documents
    ), tr_bi AS (
        SELECT toks[i] AS prev, toks[i+1] AS cur,
               CAST(count(*) AS BIGINT) AS cbi
        FROM d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        WHERE is_train GROUP BY 1, 2
    ), tr_ctx AS (
        SELECT prev, CAST(sum(cbi) AS BIGINT) AS cprev
        FROM tr_bi GROUP BY prev
    ), tr_uni AS (
        SELECT toks[i] AS tok, CAST(count(*) AS BIGINT) AS cuni
        FROM d, unnest(generate_series(1, len(toks))) AS t(i)
        WHERE is_train GROUP BY 1
    ), tstat AS (
        SELECT CAST(sum(cuni) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS v
        FROM tr_uni
    ), ev_bi AS (
        SELECT toks[i] AS prev, toks[i+1] AS cur,
               CAST(count(*) AS BIGINT) AS m
        FROM d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        WHERE NOT is_train GROUP BY 1, 2
    ), ev_first AS (
        SELECT toks[1] AS tok, CAST(count(*) AS BIGINT) AS m
        FROM d WHERE NOT is_train AND len(toks) >= 1 GROUP BY 1
    ), bi_cls AS (
        SELECT coalesce(b.cbi, 0) AS cbi, coalesce(cx.cprev, 0) AS cprev,
               coalesce(u.cuni, 0) AS cuni, CAST(sum(e.m) AS BIGINT) AS m
        FROM ev_bi e
        LEFT JOIN tr_bi b ON b.prev = e.prev AND b.cur = e.cur
        LEFT JOIN tr_ctx cx ON cx.prev = e.prev
        LEFT JOIN tr_uni u ON u.tok = e.cur
        GROUP BY 1, 2, 3
    ), fi_cls AS (
        SELECT coalesce(u.cuni, 0) AS cuni, CAST(sum(e.m) AS BIGINT) AS m
        FROM ev_first e LEFT JOIN tr_uni u ON u.tok = e.tok
        GROUP BY 1
    ), bi_li AS (
        SELECT m,
               CAST(round(ln(
                   (CASE WHEN cprev > 0
                         THEN CAST(0.7 AS DOUBLE) * cbi / cprev
                         ELSE CAST(0 AS DOUBLE) END)
                   + CAST(0.3 AS DOUBLE) * (cuni + 1)
                     / (tstat.n + tstat.v + 1.0)) * 1000000)
                    AS BIGINT) AS li
        FROM bi_cls CROSS JOIN tstat
    ), fi_li AS (
        SELECT m,
               CAST(round(ln((cuni + 1) / (tstat.n + tstat.v + 1.0))
                          * 1000000) AS BIGINT) AS li
        FROM fi_cls CROSS JOIN tstat
    ), s AS (
        SELECT CAST((SELECT sum(m) FROM bi_li) AS BIGINT) AS m_bi,
               CAST((SELECT sum(m) FROM fi_li) AS BIGINT) AS m_fi,
               CAST((SELECT sum(m * li) FROM bi_li) AS BIGINT)
                   + CAST((SELECT sum(m * li) FROM fi_li) AS BIGINT)
                   AS sum_li,
               CAST((SELECT count(*) FROM bi_li) AS BIGINT)
                   AS n_bi_classes
    )
    SELECT tstat.n AS train_tokens, tstat.v AS train_vocab,
           s.m_bi + s.m_fi AS eval_tokens, s.n_bi_classes,
           round(s.sum_li * 1.0
                 / nullif((s.m_bi + s.m_fi) * 1000000.0, 0), 6)
               AS avg_logprob,
           round(exp(-s.sum_li * 1.0
                     / nullif((s.m_bi + s.m_fi) * 1000000.0, 0)), 6)
               AS perplexity
    FROM s CROSS JOIN tstat
    """,
)
def text_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated BIGRAM-LM held-out perplexity — the second member
    of the LM family (`text_unigram_lm_perplexity` trains the fallback
    distribution): p(cur|prev) = 0.7·c(prev,cur)/c(prev) +
    0.3·(c(cur)+1)/(N+V+1), Jelinek-Mercer interpolation with the
    add-one unigram as the smoothing floor (unseen context ⇒ the
    bigram term is defined 0, the floor carries); each document's
    FIRST token scores under the pure unigram (no context — the
    convention is part of the contract and mirrored exactly).

    Classes (the `_LMCounts` discipline) are (c_bi, c_prev, c_uni)
    triples: 890 at sf0.01, 920 at sf0.1 — bounded by bigram types,
    never corpus volume. Fixture honesty: the synthetic token order is
    near-random, so bigram PPL 30.37 ≈ unigram 30.16 — the
    interpolation floor dominates; on real text the bigram term is
    where the signal lives.

    Scale shape: train bigram/context/unigram counts are three
    map-combinable folds; eval folds join the (vocab²-bounded) count
    tables; nothing downstream of the folds is corpus-volume."""
    c = _LMCounts(spark, sf_dir)
    return _perplexity(
        c.tstat,
        _classes(c.ev_bi, *c.jm_tables),
        _jm_bigram_p(),
        "n_bi_classes",
        _classes(c.head(1), c.tr_uni),
        _add_one("cuni"),
        F.col("n").alias("train_tokens"),
        F.col("v").alias("train_vocab"),
    )


@query(
    "text_kn_bigram_perplexity",
    oracle=f"""
    WITH d AS (
        SELECT string_split(text, ' ') AS toks,
               substr(md5(text), 1, 2) < '{_LM_TRAIN_HI}' AS is_train
        FROM documents
    ), tr_bi AS (
        SELECT toks[i] AS prev, toks[i+1] AS cur,
               CAST(count(*) AS BIGINT) AS cbi
        FROM d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        WHERE is_train GROUP BY 1, 2
    ), tr_ctx AS (
        SELECT prev, CAST(sum(cbi) AS BIGINT) AS cprev,
               CAST(count(*) AS BIGINT) AS n1p
        FROM tr_bi GROUP BY prev
    ), tr_cont AS (
        SELECT cur, CAST(count(*) AS BIGINT) AS n1m
        FROM tr_bi GROUP BY cur
    ), bstat AS (
        SELECT CAST(count(*) AS BIGINT) AS bt FROM tr_bi
    ), tstat AS (
        SELECT CAST(count(DISTINCT toks[i]) AS BIGINT) AS v
        FROM d, unnest(generate_series(1, len(toks))) AS t(i)
        WHERE is_train
    ), ev_bi AS (
        SELECT toks[i] AS prev, toks[i+1] AS cur,
               CAST(count(*) AS BIGINT) AS m
        FROM d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        WHERE NOT is_train GROUP BY 1, 2
    ), ev_first AS (
        SELECT toks[1] AS tok, CAST(count(*) AS BIGINT) AS m
        FROM d WHERE NOT is_train AND len(toks) >= 1 GROUP BY 1
    ), bi_cls AS (
        SELECT coalesce(b.cbi, 0) AS cbi, coalesce(cx.cprev, 0) AS cprev,
               coalesce(cx.n1p, 0) AS n1p, coalesce(cn.n1m, 0) AS n1m,
               CAST(sum(e.m) AS BIGINT) AS m
        FROM ev_bi e
        LEFT JOIN tr_bi b ON b.prev = e.prev AND b.cur = e.cur
        LEFT JOIN tr_ctx cx ON cx.prev = e.prev
        LEFT JOIN tr_cont cn ON cn.cur = e.cur
        GROUP BY 1, 2, 3, 4
    ), fi_cls AS (
        SELECT coalesce(cn.n1m, 0) AS n1m, CAST(sum(e.m) AS BIGINT) AS m
        FROM ev_first e LEFT JOIN tr_cont cn ON cn.cur = e.tok
        GROUP BY 1
    ), bi_li AS (
        SELECT m,
               CAST(round(ln(
                   CASE WHEN cprev > 0 THEN
                       greatest(cbi - CAST(0.75 AS DOUBLE),
                                CAST(0 AS DOUBLE)) / cprev
                       + CAST(0.75 AS DOUBLE) * n1p / cprev
                         * ((n1m + 1) / (bstat.bt + tstat.v + 1.0))
                   ELSE (n1m + 1) / (bstat.bt + tstat.v + 1.0) END)
                   * 1000000) AS BIGINT) AS li
        FROM bi_cls CROSS JOIN bstat CROSS JOIN tstat
    ), fi_li AS (
        SELECT m,
               CAST(round(ln((n1m + 1) / (bstat.bt + tstat.v + 1.0))
                          * 1000000) AS BIGINT) AS li
        FROM fi_cls CROSS JOIN bstat CROSS JOIN tstat
    ), s AS (
        SELECT CAST((SELECT sum(m) FROM bi_li) AS BIGINT) AS m_bi,
               CAST((SELECT sum(m) FROM fi_li) AS BIGINT) AS m_fi,
               CAST((SELECT sum(m * li) FROM bi_li) AS BIGINT)
                   + CAST((SELECT sum(m * li) FROM fi_li) AS BIGINT)
                   AS sum_li,
               CAST((SELECT count(*) FROM bi_li) AS BIGINT)
                   AS n_kn_classes
    )
    SELECT bstat.bt AS train_bigram_types, tstat.v AS train_vocab,
           s.m_bi + s.m_fi AS eval_tokens, s.n_kn_classes,
           round(s.sum_li * 1.0
                 / nullif((s.m_bi + s.m_fi) * 1000000.0, 0), 6)
               AS avg_logprob,
           round(exp(-s.sum_li * 1.0
                     / nullif((s.m_bi + s.m_fi) * 1000000.0, 0)), 6)
               AS perplexity
    FROM s CROSS JOIN bstat CROSS JOIN tstat
    """,
)
def text_kn_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney bigram held-out perplexity — the SMOOTHING the LM
    family was missing (unigram/bigram/trigram use Jelinek-Mercer
    interpolation; KN is what production n-gram stacks — KenLM, the
    CCNet scorer — actually ship): absolute discounting D = 0.75 off
    every seen bigram, with the reclaimed mass D·N1+(prev·)/c(prev)
    backing off to the CONTINUATION distribution p_cont(cur) =
    (N1+(·cur)+1)/(B+V+1) — "how many contexts does cur complete",
    not "how often does cur occur" (the famous San-Francisco
    correction: 'Francisco' is frequent but only ever follows 'San',
    so its continuation probability is tiny). The +1/(B+V+1) add-one
    floor keeps OOV continuations finite; unseen histories score
    under pure p_cont; each doc's first token likewise (the family's
    boundary convention).

    Classes (the `_LMCounts` discipline) are (c_bi, c_prev, N1+(prev·),
    N1+(·cur)) tuples — all four exact counts off ONE bigram-type
    table. Scale shape: one bigram fold feeds every statistic (context
    sums, continuation counts, the type total B); eval folds join it on
    grouped n-gram keys — nothing downstream of the folds is
    corpus-volume."""
    c = _LMCounts(spark, sf_dir)
    pc = (F.col("n1m") + 1) / (F.col("bt") + F.col("v") + F.lit(1.0))
    p = F.when(
        F.col("cprev") > 0,
        F.greatest(F.col("cbi") - F.lit(0.75), F.lit(0.0)) / F.col("cprev")
        + F.lit(0.75) * F.col("n1p") / F.col("cprev") * pc,
    ).otherwise(pc)
    return _perplexity(
        c.tr_bi.agg(_count("bt")).crossJoin(c.tstat),
        _classes(c.ev_bi, c.tr_bi, c.tr_ctx, c.tr_cont),
        p,
        "n_kn_classes",
        _classes(c.head(1), c.tr_cont.withColumnRenamed("cur", "tok")),
        pc,
        F.col("bt").alias("train_bigram_types"),
        F.col("v").alias("train_vocab"),
    )


@query(
    "text_trigram_lm_perplexity",
    oracle=f"""
    WITH d AS (
        SELECT string_split(text, ' ') AS toks,
               substr(md5(text), 1, 2) < '{_LM_TRAIN_HI}' AS is_train
        FROM documents
    ), tr_tri AS (
        SELECT toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3,
               CAST(count(*) AS BIGINT) AS c3
        FROM d, unnest(generate_series(1, len(toks) - 2)) AS t(i)
        WHERE is_train GROUP BY 1, 2, 3
    ), tr_bi AS (
        SELECT toks[i] AS prev, toks[i+1] AS cur,
               CAST(count(*) AS BIGINT) AS cbi
        FROM d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        WHERE is_train GROUP BY 1, 2
    ), tr_uni AS (
        SELECT toks[i] AS tok, CAST(count(*) AS BIGINT) AS cuni
        FROM d, unnest(generate_series(1, len(toks))) AS t(i)
        WHERE is_train GROUP BY 1
    ), tstat AS (
        SELECT CAST(sum(cuni) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS v
        FROM tr_uni
    ), ev_tri AS (
        SELECT toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3,
               CAST(count(*) AS BIGINT) AS m
        FROM d, unnest(generate_series(1, len(toks) - 2)) AS t(i)
        WHERE NOT is_train GROUP BY 1, 2, 3
    ), ev_head AS (
        SELECT toks[i] AS tok, CAST(count(*) AS BIGINT) AS m
        FROM d, unnest(generate_series(1, least(2, len(toks)))) AS t(i)
        WHERE NOT is_train GROUP BY 1
    ), tri_cls AS (
        SELECT coalesce(t3.c3, 0) AS c3, coalesce(b1.cbi, 0) AS h2,
               coalesce(b2.cbi, 0) AS c2, coalesce(u1.cuni, 0) AS h1,
               coalesce(u2.cuni, 0) AS c1,
               CAST(sum(e.m) AS BIGINT) AS m
        FROM ev_tri e
        LEFT JOIN tr_tri t3 ON t3.w1 = e.w1 AND t3.w2 = e.w2
                           AND t3.w3 = e.w3
        LEFT JOIN tr_bi b1 ON b1.prev = e.w1 AND b1.cur = e.w2
        LEFT JOIN tr_bi b2 ON b2.prev = e.w2 AND b2.cur = e.w3
        LEFT JOIN tr_uni u1 ON u1.tok = e.w2
        LEFT JOIN tr_uni u2 ON u2.tok = e.w3
        GROUP BY 1, 2, 3, 4, 5
    ), hd_cls AS (
        SELECT coalesce(u.cuni, 0) AS c1, CAST(sum(e.m) AS BIGINT) AS m
        FROM ev_head e LEFT JOIN tr_uni u ON u.tok = e.tok
        GROUP BY 1
    ), tri_li AS (
        SELECT m,
               CAST(round(ln(
                   (CASE WHEN h2 > 0
                         THEN CAST(0.5 AS DOUBLE) * c3 / h2
                         ELSE CAST(0 AS DOUBLE) END)
                   + (CASE WHEN h1 > 0
                          THEN CAST(0.3 AS DOUBLE) * c2 / h1
                          ELSE CAST(0 AS DOUBLE) END)
                   + CAST(0.2 AS DOUBLE) * (c1 + 1)
                     / (tstat.n + tstat.v + 1.0)) * 1000000)
                    AS BIGINT) AS li
        FROM tri_cls CROSS JOIN tstat
    ), hd_li AS (
        SELECT m,
               CAST(round(ln((c1 + 1) / (tstat.n + tstat.v + 1.0))
                          * 1000000) AS BIGINT) AS li
        FROM hd_cls CROSS JOIN tstat
    ), s AS (
        SELECT CAST((SELECT sum(m) FROM tri_li) AS BIGINT) AS m_tri,
               CAST((SELECT sum(m) FROM hd_li) AS BIGINT) AS m_hd,
               CAST((SELECT sum(m * li) FROM tri_li) AS BIGINT)
                   + CAST((SELECT sum(m * li) FROM hd_li) AS BIGINT)
                   AS sum_li,
               CAST((SELECT count(*) FROM tri_li) AS BIGINT)
                   AS n_tri_classes
    )
    SELECT tstat.n AS train_tokens, tstat.v AS train_vocab,
           s.m_tri + s.m_hd AS eval_tokens, s.n_tri_classes,
           round(s.sum_li * 1.0
                 / nullif((s.m_tri + s.m_hd) * 1000000.0, 0), 6)
               AS avg_logprob,
           round(exp(-s.sum_li * 1.0
                     / nullif((s.m_tri + s.m_hd) * 1000000.0, 0)), 6)
               AS perplexity
    FROM s CROSS JOIN tstat
    """,
)
def text_trigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated TRIGRAM-LM held-out perplexity — the third LM-family
    member (deferred in r11 until a fixture with real n-gram structure
    existed to prove it discriminates; sources/rich_fixture.py is that
    fixture, VERDICT r11 #4): p(w3|w1,w2) = 0.5·c(w1w2w3)/c(w1w2) +
    0.3·c(w2w3)/c(w2) + 0.2·(c(w3)+1)/(N+V+1) — Jelinek-Mercer
    interpolation down the order ladder with the add-one unigram as
    the floor. Each document's first TWO tokens score under the pure
    unigram (no context — the bigram op's boundary convention,
    extended); unseen histories contribute a defined-0 term, never a
    division.

    Measured discrimination (BASELINE.md r12, rich fixture at 5000
    docs): unigram PPL 392.6 → bigram 97.7 → trigram 71.5, because the
    fixture's Markov triples make c3/h2 predictive (at 500 docs the
    trigram grid is still sparsity-bound: 140.9 ≈ bigram 137.7 — the
    order ladder needs data, faithfully reproduced); on the driver's
    near-random-order corpus all three collapse to ≈V ≈ 30-34 — the
    family's fixture-honesty note, now with the structured twin
    recorded.

    Classes (the `_LMCounts` discipline) are (c3, h2, c2, h1, c1)
    tuples, bounded by distinct EVAL TRIGRAM TYPES (≤ vocab³ but in
    practice the Heaps-law trigram vocabulary), never by corpus volume.

    Scale shape: three map-combinable train folds + two eval folds;
    everything downstream of the folds is n-gram-type-sized."""
    c = _LMCounts(spark, sf_dir)
    sz = F.size("toks")
    tris = F.transform(
        F.sequence(F.lit(1), sz - 2),
        lambda i: F.struct(
            F.element_at("toks", i).alias("w1"),
            F.element_at("toks", i + 1).alias("w2"),
            F.element_at("toks", i + 2).alias("w3"),
        ),
    )

    # Spark's sequence(1, sz-2) DESCENDS for sz < 3 (DuckDB's
    # generate_series is empty) — the sz >= 3 filter keeps the
    # engines' trigram sets identical.
    def trigrams(rows, count):
        return _fold(rows.filter(sz >= 3), tris, count, ("w1", "w2", "w3"))

    p = (
        F.when(F.col("h2") > 0, F.lit(0.5) * F.col("c3") / F.col("h2"))
        .otherwise(F.lit(0.0))
        + F.when(F.col("h1") > 0, F.lit(0.3) * F.col("c2") / F.col("h1"))
        .otherwise(F.lit(0.0))
        + F.lit(0.2) * (F.col("c1") + 1) / _add_one_den()
    )
    return _perplexity(
        c.tstat,
        _classes(
            trigrams(c.held_out, "m"),
            trigrams(c.train, "c3"),
            c.tr_bi.toDF("w1", "w2", "h2"),
            c.tr_bi.toDF("w2", "w3", "c2"),
            c.tr_uni.toDF("w2", "h1"),
            c.tr_uni.toDF("w3", "c1"),
        ),
        p,
        "n_tri_classes",
        _classes(c.head(2), c.tr_uni.toDF("tok", "c1")),
        _add_one("c1"),
        F.col("n").alias("train_tokens"),
        F.col("v").alias("train_vocab"),
    )


@query(
    "eval_auc_bucketed",
    oracle=f"""
    WITH t AS (
        SELECT string_split(text, ' ') AS toks,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ), probs AS (
        SELECT y,
               CAST(floor(least(
                   len(list_filter(toks, x -> x IN ({_EN_MARKER_SQL})))
                   * 5.0 / len(toks), CAST(1.0 AS DOUBLE)) * 10000)
                   AS BIGINT) AS v
        FROM t
    ), hist AS (
        SELECT v,
               CAST(count(CASE WHEN y = 1 THEN 1 END) AS BIGINT) AS n1b,
               CAST(count(CASE WHEN y = 0 THEN 1 END) AS BIGINT) AS n0b
        FROM probs GROUP BY v
    ), cum AS (
        SELECT v, n1b, n0b, n1b + n0b AS nb,
               coalesce(sum(n1b + n0b) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cprev
        FROM hist
    ), s AS (
        SELECT CAST(sum(n1b) AS BIGINT) AS n1,
               CAST(sum(n0b) AS BIGINT) AS n0,
               CAST(count(*) AS BIGINT) AS n_buckets,
               sum(CAST(n1b AS HUGEINT) * (2 * cprev + nb + 1)) AS dbl_r1
        FROM cum
    )
    SELECT n1, n0, n_buckets,
           round((CAST(dbl_r1 AS DOUBLE) - n1 * (n1 + 1.0))
                 / nullif(2.0 * n1 * n0, 0), 6) AS roc_auc
    FROM s
    """,
)
def eval_auc_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED ROC-AUC — `eval_binary_classifier`'s documented
    swap-in, and the LAST exact-rank op to get its registered scale
    twin (gini/MWU/Spearman/KS landed earlier this round): scores
    quantize to ≤1e4 buckets via floor(p·1e4) (p is the same IEEE
    expression on both engines, so the floor cannot fork), and the
    rank-sum AUC comes exactly from bucket counts — each bucket is
    one tie group, 2·R₁ = Σ n1_b(2C+n_b+1) in HUGEINT/DECIMAL(38,0),
    AUC = (2R₁ − 2n₁(n₁+1)/2)/(2n₁n₀) in one rounded division.
    Measured: 0.473632 / 0.510670 at sf0.01/sf0.1 — equal to the
    exact op's AUC at 6dp on this fixture (scores are coarse
    rationals; real-valued scores differ only at bucket resolution).

    Scale shape: ONE map-combinable histogram fold; the cumulative
    window runs on the ≤1e4-row grid. The exact op's global score
    sort is what this retires at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    p = F.least(
        _marker_count(toks, _LANG_MARKERS["en"]) * 5.0 / F.size(toks),
        F.lit(1.0),
    )
    probs = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.floor(p * 10000).cast("long").alias("v"),
    )
    hist = probs.groupBy("v").agg(
        F.count(F.when(F.col("y") == 1, 1)).cast("long").alias("n1b"),
        F.count(F.when(F.col("y") == 0, 1)).cast("long").alias("n0b"),
    )
    nb = F.col("n1b") + F.col("n0b")
    cprev = F.coalesce(
        F.sum(F.col("n1b") + F.col("n0b")).over(
            W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    cum = hist.select(
        "v", "n1b", "n0b", nb.alias("nb"), cprev.alias("cprev")
    )
    s = cum.agg(
        F.sum("n1b").cast("long").alias("n1"),
        F.sum("n0b").cast("long").alias("n0"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(
            F.col("n1b").cast("decimal(38,0)")
            * (2 * F.col("cprev") + F.col("nb") + 1)
        ).alias("dbl_r1"),
    )
    return s.select(
        "n1",
        "n0",
        "n_buckets",
        F.round(
            (F.col("dbl_r1").cast("double") - F.col("n1") * (F.col("n1") + 1.0))
            / F.nullif(2.0 * F.col("n1") * F.col("n0"), F.lit(0.0)),
            6,
        ).alias("roc_auc"),
    )


@query(
    "text_jsd_by_source",
    oracle="""
    WITH toks AS (
        SELECT d.source, unnest(string_split(d.text, ' ')) AS tok
        FROM documents d
    ), st AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS nst
        FROM toks GROUP BY 1, 2
    ), s_tot AS (
        SELECT source, CAST(sum(nst) AS BIGINT) AS ns FROM st GROUP BY source
    ), gt AS (
        SELECT tok, CAST(sum(nst) AS BIGINT) AS nt FROM st GROUP BY tok
    ), n_all AS (
        SELECT CAST(sum(nst) AS BIGINT) AS n FROM st
    ), grid AS (
        SELECT s.source, g.tok, coalesce(st.nst, 0) AS nst,
               g.nt - coalesce(st.nst, 0) AS nrt,
               s.ns, n_all.n - s.ns AS nr
        FROM s_tot s CROSS JOIN gt g CROSS JOIN n_all
        LEFT JOIN st ON st.source = s.source AND st.tok = g.tok
    ), terms AS (
        SELECT source, ns, nr, nst, nrt,
               CASE WHEN nst > 0 THEN
                   CAST(round(ln(2.0 * nst * nr
                                 / (nst * 1.0 * nr + nrt * 1.0 * ns))
                              * 1000000) AS BIGINT)
               ELSE 0 END AS tp,
               CASE WHEN nrt > 0 THEN
                   CAST(round(ln(2.0 * nrt * ns
                                 / (nst * 1.0 * nr + nrt * 1.0 * ns))
                              * 1000000) AS BIGINT)
               ELSE 0 END AS tq
        FROM grid
    ), s AS (
        SELECT source, CAST(min(ns) AS BIGINT) AS n_tokens,
               CAST(count(CASE WHEN nst > 0 THEN 1 END) AS BIGINT)
                   AS vocab_size,
               CAST(sum(nst * tp) AS BIGINT) AS sp,
               CAST(sum(nrt * tq) AS BIGINT) AS sq,
               CAST(min(nr) AS BIGINT) AS nr
        FROM terms GROUP BY source
    )
    SELECT source, n_tokens, vocab_size,
           round((sp * 0.5 / nullif(n_tokens * 1000000.0, 0))
                 + (sq * 0.5 / nullif(nr * 1000000.0, 0)), 6) AS jsd_nats
    FROM s
    """,
)
def text_jsd_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's token distribution
    vs the REST of the corpus (leave-one-out) — the bounded, symmetric
    drift measure LM-data pipelines report next to `corpus_drift_psi`:
    JSD ∈ [0, ln 2], defined even where supports differ (PSI needs
    binning dodges; KL diverges), so it is the per-source 'how weird
    is this feed' number you can threshold release-over-release.

    Determinism: the micro-nat discipline over the (source × vocab)
    grid — every cell's ln(2p/(p+q)) argument is a RATIO OF INTEGERS
    (2·n_st·N_r / (n_st·N_r + n_rt·N_s)), frozen once as a rounded
    integer micro-nat; each source's two KL halves are exact BIGINT
    dot products; two final divisions, 6dp. Zero-support cells
    contribute only their non-zero half (the JSD limit, exact).

    Fixture honesty: all 20 sources draw from the shared 31-word
    vocabulary, so JSD ≈ sampling noise and shrinks ~1/n (0.0027 at
    sf0.01 → 0.0003 at sf0.1 per source) — the shrink is the
    verification; real feeds differ in support and put mass in the
    zero-cells.

    Scale shape: one map-combinable (source, token) fold; the grid is
    |sources|×|vocab| — category-bounded; marginals fold from the
    grid. Nothing downstream of the first fold is corpus-volume. The
    vocab marginal broadcasts only below _VOCAB_BROADCAST_MAX_BYTES of
    corpus; past the gate the broadcast FLIPS to the bounded sources
    side and the grid/probe joins shuffle on (source, tok) — ≤1 row
    per composite key per side, skew-free (VERDICT r11 #2; both plan
    shapes pinned in tests/test_plans.py)."""
    toks = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    st = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("nst")
    )
    from presto_truffle_spark.cache import scoped_persist

    st = scoped_persist(spark, "text.jsd.st", st)
    s_tot = st.groupBy("source").agg(F.sum("nst").cast("long").alias("ns"))
    gt = st.groupBy("tok").agg(F.sum("nst").cast("long").alias("nt"))
    n_all = st.agg(F.sum("nst").cast("long").alias("n"))
    from presto_truffle_spark.cache import input_bytes

    if input_bytes(sf_dir, "documents") >= _VOCAB_BROADCAST_MAX_BYTES:
        # Vocabulary marginal past broadcast scale (VERDICT r11 #2):
        # flip the broadcast to the CATEGORICALLY-BOUNDED side — feeds
        # number in the dozens, tokens don't. gt stays distributed;
        # the grid is built by replicating each token row across the
        # |sources| broadcast rows, and the st probe joins on the
        # composite (source, tok) key — ≤1 row per key on each side,
        # so no skew and no salt needed (unlike tfidf's df join, where
        # the probe side holds corpus-scale rows per hot token).
        pre = gt.crossJoin(F.broadcast(s_tot))
    else:
        pre = s_tot.crossJoin(F.broadcast(gt))
    grid = (
        pre
        .crossJoin(F.broadcast(n_all))
        .join(st, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            F.coalesce("nst", F.lit(0)).alias("nst"),
            (F.col("nt") - F.coalesce("nst", F.lit(0))).alias("nrt"),
            "ns",
            (F.col("n") - F.col("ns")).alias("nr"),
        )
    )
    denom = (
        F.col("nst") * 1.0 * F.col("nr") + F.col("nrt") * 1.0 * F.col("ns")
    )
    tp = F.when(
        F.col("nst") > 0,
        F.round(
            F.log(2.0 * F.col("nst") * F.col("nr") / denom) * 1000000
        ).cast("long"),
    ).otherwise(F.lit(0))
    tq = F.when(
        F.col("nrt") > 0,
        F.round(
            F.log(2.0 * F.col("nrt") * F.col("ns") / denom) * 1000000
        ).cast("long"),
    ).otherwise(F.lit(0))
    terms = grid.select(
        "source", "ns", "nr", "nst", "nrt", tp.alias("tp"), tq.alias("tq")
    )
    s = terms.groupBy("source").agg(
        F.min("ns").cast("long").alias("n_tokens"),
        F.count(F.when(F.col("nst") > 0, 1)).cast("long").alias(
            "vocab_size"
        ),
        F.sum(F.col("nst") * F.col("tp")).cast("long").alias("sp"),
        F.sum(F.col("nrt") * F.col("tq")).cast("long").alias("sq"),
        F.min("nr").cast("long").alias("nr"),
    )
    return s.select(
        "source",
        "n_tokens",
        "vocab_size",
        F.round(
            F.col("sp")
            * 0.5
            / F.nullif(F.col("n_tokens") * F.lit(1000000.0), F.lit(0.0))
            + F.col("sq")
            * 0.5
            / F.nullif(F.col("nr") * F.lit(1000000.0), F.lit(0.0)),
            6,
        ).alias("jsd_nats"),
    )


@query(
    "text_chao1_vocabulary_richness",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS term
        FROM documents
    ), tf AS (
        SELECT lang, term, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS v_observed,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           round(count(*)
                 + CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                        * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
                        AS DOUBLE)
                   / CAST(2 * (sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)
                          AS DOUBLE), 6) AS chao1_est,
           round(1.0 - CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                            AS DOUBLE)
                       / CAST(sum(c) AS DOUBLE), 6) AS goods_coverage
    FROM tf
    GROUP BY 1
    """,
)
def text_chao1_vocabulary_richness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chao1 UNSEEN-VOCABULARY estimator + Good's sample coverage per
    language (Chao 1984/1987 bias-corrected form; Good 1953) — the
    species-richness statistics a corpus pipeline uses to answer 'how
    much vocabulary have we NOT crawled yet': Chao1 extrapolates total
    richness from the frequency spectrum's rare tail,
    V̂ = V + f1(f1−1)/(2(f2+1)) (hapaxes f1, dis legomena f2 —
    bias-corrected so f2=0 never divides by zero), and Good's
    C = 1 − f1/N estimates the probability mass already seen. The
    POINT-ESTIMATOR companion of `text_heaps_law_fit` (which fits the
    vocabulary GROWTH CURVE over document prefixes; Chao1 needs no
    ordering and no fit) and of `text_vocab_coverage_oov` (coverage of
    a FIXED top-k vocabulary; this op estimates coverage of the
    unknown full one).

    Determinism: the spectrum is exact integer counts; Chao1 is one
    double division of exact integers (identical IEEE), 6dp-rounded.

    Scale shape: token explode folds straight into a (lang, term)
    count (map-combinable, the tfidf discipline); the spectrum fold
    re-aggregates the VOCAB-scale count table to ≤|langs| rows. No
    global windows, no rank; at 100 TB the big shuffle is the same
    (lang, term) one every term-stat op pays."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long")
    return tf.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("v_observed"),
        F.sum("c").cast("long").alias("n_tokens"),
        f1.alias("f1"),
        f2.alias("f2"),
        F.round(
            F.count(F.lit(1))
            + (f1 * (f1 - F.lit(1))).cast("double")
            / (F.lit(2) * (f2 + F.lit(1))).cast("double"),
            6,
        ).alias("chao1_est"),
        F.round(
            F.lit(1.0) - f1.cast("double") / F.sum("c").cast("double"), 6
        ).alias("goods_coverage"),
    )


@query(
    "text_yule_k",
    oracle="""
    WITH tf AS (
        SELECT lang, term, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY 1, 2
    ), s AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS v_observed,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(sum(c * c) AS BIGINT) AS sum_c2
        FROM tf GROUP BY 1
    )
    SELECT lang, v_observed, n_tokens,
           round(10000.0 * (sum_c2 - n_tokens)
                 / (CAST(n_tokens AS DOUBLE) * n_tokens), 6) AS yule_k,
           round(CAST(sum_c2 - n_tokens AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 6)
               AS simpson_repeat_rate
    FROM s
    """,
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K + Simpson's repeat rate per language —
    the vocabulary CONCENTRATION statistics (Yule 1944; Simpson 1949):
    K = 10⁴·(Σc² − N)/N² is length-invariant and rises as a corpus
    leans on few types (boilerplate, templated spam — the repetition
    signature dedup misses when the repeats are WITHIN the
    distribution rather than between documents); Simpson's
    D = Σc(c−1)/(N(N−1)) is the probability two random tokens are the
    same type. The CONCENTRATION companion of
    `text_chao1_vocabulary_richness` (rare-tail: how much is unseen)
    and `text_token_entropy` (whole-distribution uncertainty) — K is
    dominated by the FREQUENT head, a different moment of the same
    spectrum (K is 10⁴·(Σm²V(m) − N)/N² over counts-of-counts; Σm²V(m)
    ≡ Σc² termwise, so no spectrum materialization is needed).

    Determinism: c, Σc, Σc² are exact BIGINTs; each output is ONE
    double division of exact integers, 6dp-rounded, expression shape
    byte-matched across engines.

    Scale shape: the same map-combinable (lang, term) count every
    term-stat op pays, folded to ≤|langs| rows. Σc² stays in BIGINT
    through c ≈ 3·10⁹ per (lang, term) — beyond any real token count
    for one term in one language shard. 100 TB-safe."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    s = tf.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("v_observed"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )
    n = F.col("n_tokens")
    return s.select(
        "lang",
        "v_observed",
        "n_tokens",
        F.round(
            F.lit(10000.0)
            * (F.col("sum_c2") - n)
            / (n.cast("double") * n),
            6,
        ).alias("yule_k"),
        F.round(
            (F.col("sum_c2") - n).cast("double")
            / (n.cast("double") * (n - F.lit(1))),
            6,
        ).alias("simpson_repeat_rate"),
    )


# Burrows' Delta marker-word count: the top-_DELTA_TERMS corpus-wide
# tokens by total count (ties broken by token string) form the marker
# set every source is profiled on.
_DELTA_TERMS = 50


@query(
    "text_burrows_delta_sources",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t
        FROM documents
    ), cnt AS (
        SELECT source, t, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ), tot AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM cnt GROUP BY 1
    ), top AS (
        SELECT t FROM (
            SELECT t, CAST(sum(c) AS BIGINT) AS ct FROM cnt GROUP BY 1
        ) ORDER BY ct DESC, t LIMIT {_DELTA_TERMS}
    ), x AS (
        SELECT tot.source, top.t,
               (COALESCE(cnt.c, 0) * 1000000) // tot.n_s AS x
        FROM tot CROSS JOIN top
        LEFT JOIN cnt ON cnt.source = tot.source AND cnt.t = top.t
    ), st AS (
        SELECT t, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM x GROUP BY 1
    ), z AS (
        SELECT x.source, x.t,
               (x.x * st.n - st.sx)
               / (st.n * sqrt(CAST(st.n * st.sxx - st.sx * st.sx
                                   AS DOUBLE)
                              / (st.n * (st.n - 1)))) AS z
        FROM x JOIN st ON st.t = x.t
        WHERE st.n * st.sxx - st.sx * st.sx > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_terms,
           round(CAST(sum(CAST(floor(abs(a.z - b.z) * 1000000 + 0.5)
                               AS BIGINT)) AS BIGINT)
                 / (count(*) * 1000000.0), 6) AS delta
    FROM z a JOIN z b ON a.t = b.t AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def text_burrows_delta_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Burrows' DELTA stylometric distance between every source pair
    (Burrows 2002; Argamon 2008 interpretation as mean |Δz| over
    marker words) — the authorship/provenance attribution classic no
    other op covers: per-source relative frequencies of the top-50
    corpus marker tokens, z-scored ACROSS sources per token, Delta =
    mean absolute z difference. Low Delta flags two 'sources' that
    write identically (mirror/syndication detection before dedup —
    distribution-level, where `corpus_ngram_novelty` is document-
    level) and high Delta isolates stylistic outlier feeds;
    `text_jsd_by_source` measures COMPOSITION divergence over
    the same per-source distributions, but Delta's z-normalization weights each marker
    word equally, the property that made it the attribution standard.

    Determinism: marker selection is (count DESC, token) with an
    explicit tie-break via TakeOrderedAndProject (no global window);
    per-(source, marker) frequencies are frozen to exact integer
    micro-units ((c·10⁶) div n_s — BIGINT-exact in both engines, the
    `//` spelling on DuckDB); token-level moments are exact-BIGINT
    folds of those integers, so the z expression consumes identical
    integers on both engines and the double algebra is shape-matched.
    Zero-variance markers (uniform across sources) are excluded by an
    exact integer predicate on both sides. Each |z_a - z_b| term is
    frozen to integer micro-units before the pair sum (BIGINT fold —
    summation-order independent), so the only doubles ever ADDED are
    none: the final delta is an exact integer divided once.

    Scale shape: the (source, token) count is the standard
    map-combinable fold; marker selection is sortWithinPartitions-
    free top-k (TakeOrderedAndProject over the vocab-bounded count);
    everything downstream lives on the |sources|×50 grid (bounded),
    pairwise join 190×50 rows. c·10⁶ fits BIGINT through c ≈ 9·10¹¹
    tokens of one term in one source. 100 TB-safe."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select("source", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # vocab×sources-bounded intermediate with THREE consumers (totals,
    # marker ranking, grid left-join) — unpersisted, each replays the
    # corpus tokenize (r15 rescan audit: 12 document scans; the
    # persist-only-reduced-intermediates rule collapses them to 1).
    from presto_truffle_spark.cache import scoped_persist

    cnt = scoped_persist(spark, "text.burrows.cnt", cnt)
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    top = (
        cnt.groupBy("t")
        .agg(F.sum("c").cast("long").alias("ct"))
        .orderBy(F.desc("ct"), "t")
        .limit(_DELTA_TERMS)
        .select("t")
    )
    x = (
        tot.crossJoin(F.broadcast(top))
        .join(cnt, ["source", "t"], "left")
        .select(
            "source",
            "t",
            F.expr("(COALESCE(c, 0) * 1000000) div n_s").alias("x"),
        )
    )
    st = x.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    z = (
        x.join(st, "t")
        .where(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0
        )
        .select(
            "source",
            "t",
            (
                (F.col("x") * F.col("n") - F.col("sx"))
                / (
                    F.col("n")
                    * F.sqrt(
                        (
                            F.col("n") * F.col("sxx")
                            - F.col("sx") * F.col("sx")
                        ).cast("double")
                        / (F.col("n") * (F.col("n") - F.lit(1)))
                    )
                )
            ).alias("z"),
        )
    )
    a, b = z.alias("a"), z.alias("b")
    return (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.round(
                F.sum(
                    F.floor(
                        F.abs(F.col("a.z") - F.col("b.z")) * 1000000
                        + F.lit(0.5)
                    ).cast("long")
                )
                / (F.count(F.lit(1)) * 1000000.0),
                6,
            ).alias("delta"),
        )
    )
