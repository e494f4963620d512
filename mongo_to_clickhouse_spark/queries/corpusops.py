"""Training-corpus curation operators beyond the round-1 surface:
repetition filtering, benchmark decontamination, PII scrubbing, and
vocabulary coverage — the remaining cheap-filter tier of a pretraining
data pipeline (C4/Gopher-style rules; n-gram-overlap decontamination as
used for benchmark hygiene in LLM training sets).

All pure built-in column expressions (no UDFs); every ID is
DuckDB-oracle-checked. Output types are pinned on both engine sides
(see PARITY_r02.md for the typing rules).

Scale posture mirrors dedupops: per-document n-gram arrays are built in
one projection and only the decontamination join explodes them — the
explode feeds an equi-join on the n-gram string (uniform md5-like key
distribution, skew-free), never a pairwise document comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_to_clickhouse_spark.config import TUNING
from mongo_to_clickhouse_spark.io import load_table
from mongo_to_clickhouse_spark.operators.materialize import cached_barrier_view

# Knobs come from config.EngineTuning (env-overridable via
# SPARK_GRAFT_TUNING before import); defaults are the driver-pinned values.
REPETITION_N = TUNING.repetition_n            # Gopher duplicate-n-gram rule
REPETITION_THRESHOLD = TUNING.repetition_threshold
DECONTAM_N = TUNING.decontam_n    # 8-gram collision = standard decontam test
BENCH_MODULUS = TUNING.bench_modulus  # every Nth doc = held-out benchmark
# df-cap on the train side of the decontamination join: a gram occurring
# more than this many times in the training set is a hub key (one reducer
# gets all its join rows). ~16× the max fixture df (4 at sf0.1), so it
# never binds on the fixtures; at corpus scale such grams are boilerplate
# carrying no contamination signal. Applied identically in both engines.
DECONTAM_GRAM_DF_CAP = TUNING.decontam_gram_df_cap
VOCAB_TOP_K = TUNING.vocab_top_k


def _ngram_expr_duck(n: int) -> str:
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(generate_series(1, len(toks) - {n - 1}), "
        f"i -> {parts}) ELSE [] END"
    )


def _toks_view(spark: SparkSession, sf_dir: str) -> str:
    """Materialized (doc_id, token array) relation — 1× corpus, shared by
    the n-gram operators below. Grams themselves are NEVER materialized as
    arrays (that is 5-8× the corpus): they are generated positionally by
    exploding an index range whose Generate child is this plain
    materialized column, then slice+concat+hash per emitted row. Building
    the gram arrays per row in higher-order lambdas instead was measured
    10× slower at sf0.1 (lambdas evaluate interpreted, outside codegen)."""
    def build():
        docs = load_table(spark, sf_dir, "documents")
        return docs.select(
            "doc_id", F.split(F.col("text"), " ").alias("toks")
        )

    return cached_barrier_view(spark, sf_dir, "corpus_toks", build)


def _gram_hashes_sql(view: str, n: int) -> str:
    """(doc_id, gram_h) rows: 60-bit md5 of each word n-gram, positional."""
    return f"""
        SELECT doc_id,
               CAST(conv(substring(
                   md5(concat_ws(' ', slice(toks, i, {n}))), 1, 15),
                   16, 10) AS BIGINT) AS gram_h
        FROM {view}
        LATERAL VIEW explode(
            CASE WHEN size(toks) >= {n}
                 THEN sequence(1, size(toks) - {n - 1})
                 ELSE array() END) AS i
    """


def _gram_view(spark: SparkSession, sf_dir: str, n: int) -> str:
    """Session-memoized (doc_id, gram_h) barrier for n-grams of size
    ``n`` — the exploded gram relation an operator references more than
    once (decontamination: bench side + train side) reads the checkpoint
    instead of re-running the positional explode per reference."""
    def build():
        view = _toks_view(spark, sf_dir)
        return spark.sql(_gram_hashes_sql(view, n))

    return cached_barrier_view(spark, sf_dir, f"grams{n}", build)


def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition rule (Gopher): fraction of duplicate
    5-grams; docs above the threshold are filtered from a pretraining
    corpus. One explode + one groupBy keyed by doc_id (uniform), counting
    total and distinct gram hashes per doc — same shape and hashed-gram
    space as the decontamination join."""
    gview = _gram_view(spark, sf_dir, REPETITION_N)
    agg = spark.sql(f"""
        SELECT doc_id,
               COUNT(*) AS n_total,
               COUNT(DISTINCT gram_h) AS n_distinct
        FROM {gview}
        GROUP BY doc_id
    """)
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_total"), F.lit(0)).cast("int").alias("n_total"),
        F.coalesce(F.col("n_distinct"), F.lit(0)).cast("int").alias("n_distinct"),
    )
    dup_frac = F.when(
        F.col("n_total") > 0,
        F.round(
            (F.col("n_total") - F.col("n_distinct"))
            / F.col("n_total").cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return staged.select(
        "doc_id",
        F.col("n_total").alias("n_5grams"),
        dup_frac.alias("dup_fraction"),
    ).select(
        "doc_id",
        "n_5grams",
        "dup_fraction",
        (F.col("dup_fraction") > REPETITION_THRESHOLD).alias("flagged"),
    )


def _gram_hashes_duck(n: int) -> str:
    return f"""
        SELECT doc_id,
               CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h
        FROM (
            SELECT doc_id, unnest(grams) AS gram
            FROM (SELECT doc_id, {_ngram_expr_duck(n)} AS grams
                  FROM (SELECT doc_id, string_split(text, ' ') AS toks
                        FROM documents))
        )
    """


TEXT_REPETITION_FILTER_SQL = f"""
    WITH agg AS (
        SELECT doc_id, COUNT(*) AS n_total,
               COUNT(DISTINCT gram_h) AS n_distinct
        FROM ({_gram_hashes_duck(REPETITION_N)})
        GROUP BY doc_id
    ),
    staged AS (
        SELECT d.doc_id,
               CAST(COALESCE(a.n_total, 0) AS INTEGER) AS n_total,
               CAST(COALESCE(a.n_distinct, 0) AS INTEGER) AS n_distinct
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    )
    SELECT doc_id,
           n_total AS n_5grams,
           CASE WHEN n_total > 0
                THEN round((n_total - n_distinct) / CAST(n_total AS DOUBLE), 6)
                ELSE 0.0 END AS dup_fraction,
           (CASE WHEN n_total > 0
                 THEN round((n_total - n_distinct) / CAST(n_total AS DOUBLE), 6)
                 ELSE 0.0 END) > {REPETITION_THRESHOLD} AS flagged
    FROM staged
"""


def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥1 8-gram
    with the held-out set (every 97th doc stands in for the benchmark).
    Candidate generation is an equi-join on the 8-gram string — one
    explode each side, shuffle keyed by n-gram, no doc-pair enumeration —
    so it scales like the LSH dedup path. Hub grams (train-side
    occurrence count > DECONTAM_GRAM_DF_CAP) are dropped before the join
    so no single reducer key can dominate; the cap never binds on the
    fixtures (tests/test_dedup_guards.py plants a hot gram to prove the
    guard prunes)."""
    # join/distinct on a 60-bit md5 hash of the gram, not the ~50-char
    # string: ~6× less shuffle traffic, identical in both engines
    # (collision odds at 2^60 are negligible and symmetric).
    # Plan shape: `bench` is tiny (1/97 of docs, distinct grams) so the
    # candidate join is a BROADCAST hash join — the full train explode is
    # never shuffled by gram. The df-cap guard rides the one shuffle the
    # query already needs: a partition-only window over the bench-matched
    # candidate set counts each gram's train occurrences and drops hub
    # grams before the per-doc distinct count. Measured at sf0.1 this is
    # ~2× faster than computing eligibility with a separate full-corpus
    # gram aggregation, and a hub gram costs one linear, spillable sort
    # partition rather than a reducer funnel on the join itself.
    gview = _gram_view(spark, sf_dir, DECONTAM_N)
    return spark.sql(f"""
        WITH exploded AS (SELECT doc_id, gram_h FROM {gview}),
        bench AS (
            SELECT DISTINCT gram_h FROM exploded
            WHERE doc_id % {BENCH_MODULUS} = 0
        ),
        cand AS (
            SELECT doc_id, gram_h,
                   COUNT(*) OVER (PARTITION BY gram_h) AS train_df
            FROM exploded JOIN bench USING (gram_h)
            WHERE doc_id % {BENCH_MODULUS} != 0
        )
        SELECT doc_id,
               COUNT(DISTINCT gram_h) AS n_shared_8grams
        FROM cand
        WHERE train_df <= {DECONTAM_GRAM_DF_CAP}
        GROUP BY doc_id
        ORDER BY doc_id
    """)


def decontaminate_containment_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Containment-based decontamination: for each training doc, the
    FRACTION of its distinct {DECONTAM_N}-grams that appear anywhere in
    the held-out benchmark set — the asymmetric containment score
    C(d, bench) = |grams(d) ∩ grams(bench)| / |grams(d)| that catches a
    benchmark QUOTED INSIDE a larger document, which symmetric Jaccard
    dilutes away. Reported as exact integer millionths
    ((shared·10⁶) DIV total — no float division), matched docs only.

    Scale shape: the benchmark gram set is tiny (1/{BENCH_MODULUS} of
    docs, distinct) and BROADCASTS, so the train explode is never
    shuffled by gram — hub grams are harmless here (no gram-keyed
    reducer exists; both aggregates are keyed by doc_id), which is why
    this id needs no df-cap unlike decontaminate_ngram_overlap's
    windowed counter."""
    gview = _gram_view(spark, sf_dir, DECONTAM_N)
    return spark.sql(f"""
        WITH exploded AS (SELECT doc_id, gram_h FROM {gview}),
        bench AS (
            SELECT DISTINCT gram_h FROM exploded
            WHERE doc_id % {BENCH_MODULUS} = 0
        ),
        train AS (
            SELECT DISTINCT doc_id, gram_h FROM exploded
            WHERE doc_id % {BENCH_MODULUS} != 0
        ),
        tot AS (
            SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id
        ),
        shared AS (
            SELECT t.doc_id, COUNT(*) AS n_shared
            FROM train t JOIN bench USING (gram_h)
            GROUP BY t.doc_id
        )
        SELECT tot.doc_id,
               CAST(tot.n_grams AS BIGINT) AS n_grams,
               CAST(shared.n_shared AS BIGINT) AS n_shared,
               CAST((shared.n_shared * 1000000) DIV tot.n_grams AS BIGINT)
                   AS containment_e6
        FROM tot JOIN shared ON tot.doc_id = shared.doc_id
        ORDER BY tot.doc_id
    """)


DECONTAMINATE_CONTAINMENT_RATIO_SQL = f"""
    WITH exploded AS ({_gram_hashes_duck(DECONTAM_N)}),
    bench AS (
        SELECT DISTINCT gram_h FROM exploded
        WHERE doc_id % {BENCH_MODULUS} = 0
    ),
    train AS (
        SELECT DISTINCT doc_id, gram_h FROM exploded
        WHERE doc_id % {BENCH_MODULUS} != 0
    ),
    tot AS (
        SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id
    ),
    shared AS (
        SELECT t.doc_id, COUNT(*) AS n_shared
        FROM train t JOIN bench USING (gram_h)
        GROUP BY t.doc_id
    )
    SELECT tot.doc_id,
           CAST(tot.n_grams AS BIGINT) AS n_grams,
           CAST(shared.n_shared AS BIGINT) AS n_shared,
           CAST((shared.n_shared * 1000000) // tot.n_grams AS BIGINT)
               AS containment_e6
    FROM tot JOIN shared ON tot.doc_id = shared.doc_id
    ORDER BY tot.doc_id
"""


DECONTAMINATE_NGRAM_OVERLAP_SQL = f"""
    WITH exploded AS ({_gram_hashes_duck(DECONTAM_N)}),
    keys AS (
        SELECT gram_h FROM exploded
        GROUP BY gram_h
        HAVING MAX(CASE WHEN doc_id % {BENCH_MODULUS} = 0
                        THEN 1 ELSE 0 END) = 1
           AND COUNT(CASE WHEN doc_id % {BENCH_MODULUS} != 0
                          THEN 1 END) <= {DECONTAM_GRAM_DF_CAP}
    )
    SELECT doc_id, COUNT(DISTINCT gram_h) AS n_shared_8grams
    FROM exploded
    JOIN keys USING (gram_h)
    WHERE doc_id % {BENCH_MODULUS} != 0
    GROUP BY doc_id
    ORDER BY doc_id
"""


# PII-bearing text is synthesized deterministically from customer rows
# (the fixture corpus itself is synthetic words with no PII): an email in
# the reference's localpart style plus a phone-looking token.
_EMAIL_RE = "[a-z0-9#._%+-]+@[a-z0-9.-]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: regex-redact emails and phone-shaped tokens —
    the anonymization tier next to the reference's sha256 hashing
    (/root/reference/src/main.rs:628-645), as a corpus-curation operator.
    Pure regexp_replace, fuses into the scan."""
    cust = load_table(spark, sf_dir, "customer")
    raw = F.concat(
        F.lit("contact "),
        F.lower(F.col("c_name")),
        F.lit("@example.com ref "),
        F.col("c_custkey").cast("string"),
        F.lit(" phone 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return cust.select(
        "c_custkey", raw.alias("raw_text"), redacted.alias("clean_text")
    )


def pii_surface_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-surface DETECTION accounting — the audit report in front of
    pii_redact's scrub: per record, how many email-shaped, phone-shaped,
    and bare-numeric-id tokens appear, plus the any-PII flag that routes
    the record to the scrubber. (Scrub-then-count-zero is the usual
    verification; count-before-scrub is what compliance dashboards
    plot.) Same synthesized raw_text as pii_redact so the two operators
    audit the same records; pure regexp_count chains, fused into the
    scan."""
    cust = load_table(spark, sf_dir, "customer")
    raw = F.concat(
        F.lit("contact "),
        F.lower(F.col("c_name")),
        F.lit("@example.com ref "),
        F.col("c_custkey").cast("string"),
        F.lit(" phone 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    staged = cust.select("c_custkey", raw.alias("raw_text"))
    n_emails = F.expr(f"regexp_count(raw_text, '{_EMAIL_RE}')").cast("int")
    n_phones = F.expr(f"regexp_count(raw_text, '{_PHONE_RE}')").cast("int")
    n_ids = F.expr(r"regexp_count(raw_text, '\\b[0-9]{5,}\\b')").cast("int")
    return staged.select(
        "c_custkey",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ids.alias("n_long_ids"),
        (n_emails + n_phones + n_ids > 0).alias("has_pii"),
    )


PII_SURFACE_PROFILE_SQL = f"""
    SELECT c_custkey,
           CAST(len(regexp_extract_all(raw_text, '{_EMAIL_RE}'))
                AS INT) AS n_emails,
           CAST(len(regexp_extract_all(raw_text, '{_PHONE_RE}'))
                AS INT) AS n_phones,
           CAST(len(regexp_extract_all(raw_text, '\\b[0-9]{{5,}}\\b'))
                AS INT) AS n_long_ids,
           (len(regexp_extract_all(raw_text, '{_EMAIL_RE}'))
            + len(regexp_extract_all(raw_text, '{_PHONE_RE}'))
            + len(regexp_extract_all(raw_text, '\\b[0-9]{{5,}}\\b')) > 0)
               AS has_pii
    FROM (
        SELECT c_custkey,
               'contact ' || lower(c_name) || '@example.com ref '
                || CAST(c_custkey AS VARCHAR) || ' phone 555-'
                || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                   AS raw_text
        FROM customer
    )
"""


PII_REDACT_SQL = f"""
    SELECT c_custkey, raw_text,
           regexp_replace(regexp_replace(raw_text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g') AS clean_text
    FROM (
        SELECT c_custkey,
               'contact ' || lower(c_name) || '@example.com ref '
                || CAST(c_custkey AS VARCHAR) || ' phone 555-'
                || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS raw_text
        FROM customer
    )
"""


def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document coverage of the corpus's top-100 vocabulary (the cheap
    in-distribution signal: low coverage ≈ boilerplate/noise). Two passes
    over one exploded relation: global top-K (tiny, broadcast back) then a
    per-doc membership count — shuffles keyed by word and doc_id, both
    uniform."""
    view = _toks_view(spark, sf_dir)
    toks = spark.table(view).select(
        "doc_id", F.explode(F.col("toks")).alias("word")
    )
    vocab = (
        toks.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(VOCAB_TOP_K)
        .select("word")
    )
    # ONE pass over the exploded relation: broadcast-mark vocab hits and
    # count both totals in the same doc_id aggregation (a left-semi +
    # separate totals pass would explode the corpus twice)
    marked = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "word", "left"
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.count("in_vocab").alias("n_in_vocab"),
        F.round(
            F.count("in_vocab") / F.count("*").cast("double"), 6
        ).alias("coverage"),
    )


CORPUS_VOCAB_COVERAGE_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    vocab AS (
        SELECT word FROM toks GROUP BY word
        ORDER BY COUNT(*) DESC, word LIMIT {VOCAB_TOP_K}
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_in_vocab
        FROM toks WHERE word IN (SELECT word FROM vocab)
        GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id)
    SELECT t.doc_id, t.n_tokens,
           COALESCE(p.n_in_vocab, 0) AS n_in_vocab,
           round(COALESCE(p.n_in_vocab, 0) / CAST(t.n_tokens AS DOUBLE), 6)
               AS coverage
    FROM totals t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
"""


PPL_FLAG_NATS = 6.0   # docs with avg NLL above this are "out of distribution"


def text_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity per document — the KenLM-tier quality filter
    of a pretraining pipeline (docs far from the corpus distribution get
    dropped/downweighted), expressed entirely in built-ins.

    Model: p(w) = count(w) / total_tokens over the whole corpus; doc
    score = mean negative log-likelihood (nats) of its tokens, and
    perplexity = exp(NLL).

    Cross-engine determinism: per-WORD log-probs are rounded to 6 dp and
    scaled to integer micro-nats at the vocab level (tiny relation), so
    the per-doc aggregation is an exact integer sum — float summation
    order never matters.  ln() itself is correctly-rounded libm on both
    engines; 6-dp rounding absorbs any last-ulp differences.

    Scale posture: one explode of the corpus feeding two shuffles — a
    groupBy word (vocab build, uniform keys) and an equi-join token→vocab
    (word keys, Zipf-skewed head but AQE skew-split handles it; the vocab
    side is the small build side).  The scalar corpus total rides along
    as a window-free cross join of a 1-row aggregate (broadcast)."""
    view = _toks_view(spark, sf_dir)
    return spark.sql(f"""
        WITH toks AS (
            SELECT doc_id, explode(toks) AS word FROM {view}
        ),
        vocab AS (
            SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word
        ),
        total AS (SELECT SUM(cnt) AS n_total FROM vocab),
        model AS (
            SELECT word,
                   CAST(round(ln(cnt / CAST(n_total AS DOUBLE)) * 1e6)
                        AS BIGINT) AS logp_micro
            FROM vocab CROSS JOIN total
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               round(-SUM(m.logp_micro) / COUNT(*) / 1e6, 6) AS avg_nll,
               round(exp(-SUM(m.logp_micro) / COUNT(*) / 1e6), 4) AS ppl,
               (-SUM(m.logp_micro) / COUNT(*) / 1e6) > {PPL_FLAG_NATS}
                   AS flagged
        FROM toks t JOIN model m ON t.word = m.word
        GROUP BY t.doc_id
    """)


TEXT_PERPLEXITY_UNIGRAM_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    vocab AS (
        SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word
    ),
    total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM vocab),
    model AS (
        SELECT word,
               CAST(round(ln(cnt / CAST(n_total AS DOUBLE)) * 1e6)
                    AS BIGINT) AS logp_micro
        FROM vocab CROSS JOIN total
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(-SUM(m.logp_micro) / COUNT(*) / 1e6, 6) AS avg_nll,
           round(exp(-SUM(m.logp_micro) / COUNT(*) / 1e6), 4) AS ppl,
           (-SUM(m.logp_micro) / COUNT(*) / 1e6) > {PPL_FLAG_NATS} AS flagged
    FROM toks t JOIN model m ON t.word = m.word
    GROUP BY t.doc_id
"""


SURPRISAL_FLAG_NATS = 5.0   # docs above this avg bigram NLL are flagged


def _bigram_surprisal_sql(engine: str) -> str:
    """Bigram-LM fluency scoring: p(w2 | w1) = c(w1 w2) / c(w1 ·) over
    the corpus, per-doc score = mean −ln p over its bigrams. Extends the
    unigram perplexity tier with CONDITIONING — the KenLM-style fluency
    signal (repetitive/boilerplate text scores low surprisal, shuffled
    or OOD text scores high). Same determinism recipe as
    text_perplexity_unigram: ln at the bigram-TYPE level, rounded to
    integer micro-nats, so the per-doc aggregation is an exact integer
    sum; the denominator c(w1 ·) comes from a window over the bigram
    type relation (partitioned by w1) — no second corpus pass."""
    if engine == "spark":
        tok = "element_at(toks, CAST(i AS INT))"
        tok2 = "element_at(toks, CAST(i AS INT) + 1)"
        gen = ("LATERAL VIEW explode(CASE WHEN size(toks) >= 2 THEN "
               "sequence(1, size(toks) - 1) ELSE array() END) AS i")
        from_docs = "docs_toks"
    else:
        tok = "toks[i]"
        tok2 = "toks[i + 1]"
        gen = (", unnest(CASE WHEN len(toks) >= 2 THEN "
               "range(1, len(toks)) ELSE [] END) AS t(i)")
        from_docs = ("(SELECT doc_id, string_split(text, ' ') AS toks"
                     " FROM documents)")
    return f"""
        WITH bg AS (
            SELECT doc_id,
                   md5({tok}) AS h1,
                   md5(concat({tok}, ' ', {tok2})) AS h2
            FROM {from_docs} {gen}
        ),
        types AS (
            SELECT h1, h2, COUNT(*) AS c2 FROM bg GROUP BY h1, h2
        ),
        model AS (
            SELECT h2,
                   CAST(round(ln(c2 / CAST(SUM(c2) OVER (PARTITION BY h1)
                                           AS DOUBLE)) * 1e6)
                        AS BIGINT) AS logp_micro
            FROM types
        )
        SELECT b.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               round(-SUM(m.logp_micro) / COUNT(*) / 1e6, 6) AS avg_nll,
               (-SUM(m.logp_micro) / COUNT(*) / 1e6) > {SURPRISAL_FLAG_NATS}
                   AS flagged
        FROM bg b JOIN model m ON b.h2 = m.h2
        GROUP BY b.doc_id
        ORDER BY b.doc_id
    """


KN_DISCOUNT = 0.75   # absolute discount d (exact in binary: 3/4)


def _kn_surprisal_sql(engine: str) -> str:
    """Kneser–Ney-smoothed bigram LM (the KenLM default, interpolated
    form): p(w2|w1) = max(c12 − d, 0)/c1 + d·N1+(w1·)/c1 · N1+(·w2)/N —
    the continuation-probability backoff that makes KN the standard LM
    smoother ("Francisco" is frequent but only ever follows "San", so
    its continuation probability is tiny). All model terms derive from
    the bigram TYPE relation: c1 and N1+(w1·) from a w1-partitioned
    window, N1+(·w2) from a w2-partitioned window, N from one scalar
    aggregate; d = {KN_DISCOUNT} is exactly representable, the model
    probability is one double expression over exact integers (identical
    in both engines), and per-type log-probs round to micro-nats before
    the exact per-doc integer sum — the text_perplexity_unigram recipe."""
    if engine == "spark":
        tok = "element_at(toks, CAST(i AS INT))"
        tok2 = "element_at(toks, CAST(i AS INT) + 1)"
        gen = ("LATERAL VIEW explode(CASE WHEN size(toks) >= 2 THEN "
               "sequence(1, size(toks) - 1) ELSE array() END) AS i")
        from_docs = "docs_toks"
        great = "greatest"
    else:
        tok = "toks[i]"
        tok2 = "toks[i + 1]"
        gen = (", unnest(CASE WHEN len(toks) >= 2 THEN "
               "range(1, len(toks)) ELSE [] END) AS t(i)")
        from_docs = ("(SELECT doc_id, string_split(text, ' ') AS toks"
                     " FROM documents)")
        great = "greatest"
    return f"""
        WITH bg AS (
            SELECT doc_id,
                   md5({tok}) AS h1,
                   md5(concat({tok}, ' ', {tok2})) AS h2full,
                   md5({tok2}) AS hw2
            FROM {from_docs} {gen}
        ),
        types AS (
            -- hw2 is functionally determined by h2full; MIN() carries it
            -- through the aggregate so the continuation count below can
            -- group by the SECOND word alone
            SELECT h1, h2full, COUNT(*) AS c12, MIN(hw2) AS hw2
            FROM bg GROUP BY h1, h2full
        ),
        typed AS (
            SELECT h1, h2full, c12,
                   SUM(c12) OVER (PARTITION BY h1) AS c1,
                   COUNT(*) OVER (PARTITION BY h1) AS n1f,
                   COUNT(*) OVER (PARTITION BY hw2) AS n1p
            FROM types
        ),
        model AS (
            SELECT h2full,
                   CAST(round(ln(
                       {great}(c12 - {KN_DISCOUNT}, 0.0)
                           / CAST(c1 AS DOUBLE)
                       + {KN_DISCOUNT} * n1f / CAST(c1 AS DOUBLE)
                         * n1p / CAST((SELECT COUNT(*) FROM types)
                                      AS DOUBLE)
                   ) * 1e6) AS BIGINT) AS logp_micro
            FROM typed
        )
        SELECT b.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               round(-SUM(m.logp_micro) / COUNT(*) / 1e6, 6) AS avg_nll_kn
        FROM bg b JOIN model m ON b.h2full = m.h2full
        GROUP BY b.doc_id
        ORDER BY b.doc_id
    """


def text_kneser_ney_surprisal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-doc Kneser–Ney bigram NLL — see _kn_surprisal_sql.

    A subtlety the hashing has to respect: the continuation count
    N1+(·w2) must group by the SECOND word alone, so the bg relation
    emits the separate second-token hash alongside the full-bigram key
    and the type aggregate carries it through (re-hashing the bigram
    key instead would make every continuation count 1).

    Scale posture identical to text_bigram_surprisal: one positional
    explode, one type aggregate, two partitioned windows over the TYPE
    relation, one scalar aggregate, one model join back."""
    view = _toks_view(spark, sf_dir)
    sql = _kn_surprisal_sql("spark").replace("docs_toks", view)
    return spark.sql(sql)


TEXT_KNESER_NEY_SURPRISAL_SQL = _kn_surprisal_sql("duck")


def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram-LM surprisal — see _bigram_surprisal_sql.

    Scale posture: one positional bigram explode (re-using the
    materialized token barrier), one (h1, h2)-keyed type aggregate
    (uniform md5 keys), one w1-partitioned window over the TYPE relation
    (vocabulary-bounded, not corpus-bounded), and one equi-join of the
    corpus bigrams against the model keyed by the uniform bigram hash —
    Zipf head skew on the join key is the known hot spot and AQE
    skew-split handles it, same as the unigram tier."""
    view = _toks_view(spark, sf_dir)
    sql = _bigram_surprisal_sql("spark").replace("docs_toks", view)
    return spark.sql(sql)


TEXT_BIGRAM_SURPRISAL_SQL = _bigram_surprisal_sql("duck")


DSIR_BUCKETS = TUNING.dsir_buckets
DSIR_TARGET_MODULUS = TUNING.dsir_target_modulus


def _dsir_body_sql(feats: str) -> str:
    """Engine-shared back half of DSIR over a (doc_id, b) hashed-feature
    relation: bucket-level smoothed log-ratio model (≤B rows, built once)
    joined back to the raw docs' features for the per-doc weight sum.
    ln() is evaluated only at the bucket level and immediately rounded to
    integer micro-nats, so the per-doc aggregation is an exact integer
    sum (the text_perplexity_unigram determinism recipe)."""
    return f"""
        WITH feats AS ({feats}),
        tcnt AS (
            SELECT b, COUNT(*) AS c FROM feats
            WHERE doc_id % {DSIR_TARGET_MODULUS} = 0 GROUP BY b
        ),
        rcnt AS (
            SELECT b, COUNT(*) AS c FROM feats
            WHERE doc_id % {DSIR_TARGET_MODULUS} != 0 GROUP BY b
        ),
        tot AS (
            SELECT (SELECT COALESCE(SUM(c), 0) FROM tcnt) AS t_total,
                   (SELECT COALESCE(SUM(c), 0) FROM rcnt) AS r_total
        ),
        lr AS (
            SELECT r.b,
                   CAST(round((
                       ln((COALESCE(t.c, 0) + 1)
                          / CAST(tot.t_total + {DSIR_BUCKETS} AS DOUBLE))
                     - ln((r.c + 1)
                          / CAST(tot.r_total + {DSIR_BUCKETS} AS DOUBLE))
                   ) * 1e6) AS BIGINT) AS lr_micro
            FROM rcnt r
            LEFT JOIN tcnt t ON r.b = t.b
            CROSS JOIN tot
        )
        SELECT f.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_feats,
               CAST(SUM(lr.lr_micro) AS BIGINT) AS weight_micro,
               CAST(SUM(lr.lr_micro) AS BIGINT) > 0 AS selected
        FROM feats f JOIN lr ON f.b = lr.b
        WHERE f.doc_id % {DSIR_TARGET_MODULUS} != 0
        GROUP BY f.doc_id
        ORDER BY f.doc_id
    """


def corpus_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how much more likely
    its hashed n-gram features are under a target-domain bag-of-ngrams
    model than under the raw-corpus model. Features are md5-hashed
    unigrams + bigrams folded into ``DSIR_BUCKETS`` buckets; the models
    are Laplace-smoothed bucket distributions; a doc's importance weight
    is Σ_features log(p_target(b)/p_raw(b)). Every ``DSIR_TARGET_MODULUS``-th
    doc stands in for the target-domain sample (the same fixture-determinism
    device as decontamination's bench_modulus).

    Scale posture (100 TB): one positional gram explode (shared barrier
    with the decontamination tier) → bucket counts are two partial-agg
    shuffles onto ≤B uniform md5-derived keys; the log-ratio model is a
    ≤B-row relation that broadcasts to the per-doc scoring join; the only
    corpus-sized shuffle is the final doc_id aggregation. The bucket
    models are trivially mergeable across corpus shards (integer count
    sums), which is what makes DSIR a single-pass-per-corpus scorer."""
    uni = _gram_view(spark, sf_dir, 1)
    bi = _gram_view(spark, sf_dir, 2)
    feats = f"""
        SELECT doc_id, gram_h % {DSIR_BUCKETS} AS b FROM {uni}
        UNION ALL
        SELECT doc_id, gram_h % {DSIR_BUCKETS} AS b FROM {bi}
    """
    return spark.sql(_dsir_body_sql(feats))


CORPUS_IMPORTANCE_DSIR_SQL = _dsir_body_sql(
    f"""
    SELECT doc_id, gram_h % {DSIR_BUCKETS} AS b
    FROM ({_gram_hashes_duck(1)})
    UNION ALL
    SELECT doc_id, gram_h % {DSIR_BUCKETS} AS b
    FROM ({_gram_hashes_duck(2)})
    """
)


# ---------------------------------------------------------------------------
# corpus_perplexity_buckets — CCNet head/middle/tail partitioning
# ---------------------------------------------------------------------------

PPL_BUCKETS = 3  # CCNet's head / middle / tail


def _ppl_perdoc_body(toks_sql: str) -> str:
    """Engine-shared front half: per-doc integer micro-NLL (same unigram
    model as text_perplexity_unigram; the mean is an EXPLICIT floor of
    the double division, because DuckDB ROUNDS on double→BIGINT casts
    while Spark truncates — the off-by-one this pins)."""
    return f"""
        WITH toks AS ({toks_sql}),
        vocab AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word),
        total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM vocab),
        model AS (
            SELECT word,
                   CAST(round(ln(cnt / CAST(n_total AS DOUBLE)) * 1e6)
                        AS BIGINT) AS logp_micro
            FROM vocab CROSS JOIN total
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(floor(-SUM(m.logp_micro) / CAST(COUNT(*) AS DOUBLE))
                    AS BIGINT) AS nll_micro
        FROM toks t JOIN model m ON t.word = m.word
        GROUP BY t.doc_id
    """


_PPL_ROLLUP = f"""
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
           MIN(nll_micro) AS min_nll_micro,
           MAX(nll_micro) AS max_nll_micro
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
"""


def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity partitioning (Wenzek et al. 2020): score
    every document with the corpus unigram LM, then split the corpus
    into {PPL_BUCKETS} equal-size buckets by ascending NLL — the
    head/middle/tail grading CCNet uses to keep the well-modeled slice
    of a crawl. Reports per-bucket size, token mass, and NLL range.

    Scale posture: the front half is text_perplexity_unigram's plan
    (one corpus explode, vocab groupBy, token→model equi-join). The
    equal-size split is a global order by definition — but NOT a global
    NTILE window (a no-partition WindowExec serializes the corpus
    through one task, the class tests/test_plan_hygiene.py bans):
    the Spark side computes a distributed two-pass global rank
    (operators/rank.py — range partition, local row_number, offset
    join) and derives the bucket from NTILE's piecewise arithmetic
    (first n % k buckets get ⌈n/k⌉ rows) against a 1-row broadcast
    count; the oracle uses DuckDB's actual NTILE, so the parity check
    PROVES the rank+arithmetic decomposition equals the window form."""
    from mongo_to_clickhouse_spark.operators.materialize import barrier
    from mongo_to_clickhouse_spark.operators.rank import (
        distributed_global_rank,
    )

    view = _toks_view(spark, sf_dir)
    perdoc = barrier(spark.sql(_ppl_perdoc_body(
        f"SELECT doc_id, explode(toks) AS word FROM {view}"
    )))
    ranked = distributed_global_rank(
        perdoc, [F.col("nll_micro"), F.col("doc_id")], rank_col="r",
        bucket_key=F.col("nll_micro"), bucket_tiebreak=F.col("doc_id"),
    )
    tot = perdoc.agg(F.count("*").cast("bigint").alias("n"))
    k = PPL_BUCKETS
    bucketed = ranked.crossJoin(F.broadcast(tot)).selectExpr(
        "n_tokens",
        "nll_micro",
        # NTILE(k): q = n DIV k rows per bucket, first m = n % k buckets
        # take one extra; CASE branches keep the q = 0 division unused
        f"""CASE WHEN r <= (n DIV {k} + 1) * (n % {k})
                 THEN (r - 1) DIV (n DIV {k} + 1) + 1
                 ELSE (n % {k})
                      + (r - (n DIV {k} + 1) * (n % {k}) - 1)
                        DIV (n DIV {k}) + 1
            END AS bucket""",
    )
    bucketed.createOrReplaceTempView("ppl_bucketed")
    return spark.sql(_PPL_ROLLUP.replace("FROM bucketed", "FROM ppl_bucketed"))


CORPUS_PERPLEXITY_BUCKETS_SQL = f"""
    WITH perdoc AS ({_ppl_perdoc_body(
        "SELECT doc_id, unnest(string_split(text, ' ')) AS word"
        " FROM documents"
    )}),
    bucketed AS (
        SELECT n_tokens, nll_micro,
               NTILE({PPL_BUCKETS}) OVER (ORDER BY nll_micro, doc_id)
                   AS bucket
        FROM perdoc
    )
    {_PPL_ROLLUP}
"""


# ---------------------------------------------------------------------------
# text_collocations_pmi — top bigram collocations by pointwise mutual info
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5    # classic collocation floor: rare pairs have unstable PMI
PMI_TOPK = 20


def _pmi_sql(engine: str) -> str:
    """Top-{PMI_TOPK} bigram collocations by PMI (Church & Hanks 1990):

        PMI(w1, w2) = ln( p(w1 w2) / (p(w1 ·) · p(· w2)) )

    with the marginals taken positionally from the bigram relation
    itself (p(w1 ·) = c1/N, p(· w2) = c2/N, p = c12/N), so everything
    derives from ONE bigram-type aggregate: c1/c2 from w1-/w2-
    partitioned windows, N from a 1-row total broadcast-joined back
    (never an empty-frame window — the type relation is vocab²-bounded,
    which is NOT small enough to serialize through one task at 100 TB).
    The collocation floor c12 ≥ {PMI_MIN_COUNT} is applied AFTER the
    marginals (the textbook order — filtering first would bias them).

    Exactness: counts exact BIGINTs; the PMI argument is evaluated as
    (c12/c1)·(N/c2) in doubles — two exact-integer divisions and one
    product, a fixed expression both engines evaluate identically on
    identical inputs (avoids the c12·N BIGINT overflow at trillion-
    token corpora) — then ln once, rounded to integer micro-nats."""
    if engine == "spark":
        tok = "element_at(toks, CAST(i AS INT))"
        tok2 = "element_at(toks, CAST(i AS INT) + 1)"
        gen = ("LATERAL VIEW explode(CASE WHEN size(toks) >= 2 THEN "
               "sequence(1, size(toks) - 1) ELSE array() END) AS i")
        from_docs = "docs_toks"
    else:
        tok = "toks[i]"
        tok2 = "toks[i + 1]"
        gen = (", unnest(CASE WHEN len(toks) >= 2 THEN "
               "range(1, len(toks)) ELSE [] END) AS t(i)")
        from_docs = ("(SELECT doc_id, string_split(text, ' ') AS toks"
                     " FROM documents)")
    types_body = f"""
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM (SELECT {tok} AS w1, {tok2} AS w2
              FROM {from_docs} {gen}) bg
        GROUP BY w1, w2
    """
    if engine == "spark":
        # the type relation arrives pre-materialized as the pmi_types
        # view (barrier) — referenced twice below as cheap leaf scans
        return _pmi_score_sql("pmi_types")
    return f"WITH pmi_types AS ({types_body}) " + _pmi_score_sql("pmi_types")


def _pmi_score_sql(types_rel: str) -> str:
    return f"""
        SELECT w1, w2, c12 AS pair_count,
               CAST(round(ln((c12 / CAST(c1 AS DOUBLE))
                             * (n / CAST(c2 AS DOUBLE))) * 1e6)
                    AS BIGINT) AS pmi_micro
        FROM (
            SELECT w1, w2, c12,
                   CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
                   CAST(SUM(c12) OVER (PARTITION BY w2) AS BIGINT) AS c2,
                   n
            FROM {types_rel}
            CROSS JOIN (SELECT CAST(SUM(c12) AS BIGINT) AS n
                        FROM {types_rel}) tot
        ) marg
        WHERE c12 >= {PMI_MIN_COUNT}
        ORDER BY pmi_micro DESC, w1, w2
        LIMIT {PMI_TOPK}
    """


def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by PMI — see _pmi_sql.

    Scale posture: one positional bigram explode off the memoized token
    barrier (never materializing gram arrays), one (w1, w2) type
    aggregate (map-side combined, vocabulary²-bounded not corpus-
    bounded) landed on a reliable checkpoint barrier, two vocabulary-
    partitioned windows + one 1-row total broadcast over that TYPE
    relation, and a TakeOrderedAndProject top-k."""
    from mongo_to_clickhouse_spark.operators.materialize import (
        cached_barrier_view,
    )

    view = _toks_view(spark, sf_dir)
    tok = "element_at(toks, CAST(i AS INT))"
    tok2 = "element_at(toks, CAST(i AS INT) + 1)"
    gen = ("LATERAL VIEW explode(CASE WHEN size(toks) >= 2 THEN "
           "sequence(1, size(toks) - 1) ELSE array() END) AS i")
    types_sql = f"""
        SELECT {tok} AS w1, {tok2} AS w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM {view} {gen}
        GROUP BY 1, 2
    """
    cached_barrier_view(
        spark, sf_dir, "pmi_types", lambda: spark.sql(types_sql)
    )
    return spark.sql(_pmi_sql("spark"))


TEXT_COLLOCATIONS_PMI_SQL = _pmi_sql("duck")


# ---------------------------------------------------------------------------
# text_ngram_novelty — per-doc share of corpus-first n-grams
# ---------------------------------------------------------------------------

NOVELTY_N = 8    # same gram size as the decontamination tier


def _novelty_body(grams_rel: str) -> str:
    """Engine-shared novelty attribution: a document's novelty is the
    share of its DISTINCT {NOVELTY_N}-grams whose corpus-wide first
    occurrence (min doc_id) is this document — the curation signal that
    separates template/boilerplate re-emissions (novelty → 0) from
    genuinely new material, and the additive accounting behind
    "dedup removed X% of the corpus' novel mass". Exact integer counts;
    the ratio is one exact-int division floored to ppm."""
    return f"""
        WITH dg AS (
            SELECT DISTINCT doc_id, gram_h FROM {grams_rel}
        ),
        attributed AS (
            SELECT doc_id,
                   CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY gram_h)
                        THEN 1 ELSE 0 END AS novel
            FROM dg
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(novel) AS BIGINT) AS n_novel,
               CAST(SUM(novel) * 1000000 {{intdiv}} COUNT(*) AS BIGINT)
                   AS novelty_ppm
        FROM attributed
        GROUP BY doc_id
        ORDER BY doc_id
    """


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — see _novelty_body.

    Scale posture: rides the memoized {NOVELTY_N}-gram barrier shared
    with decontamination/repetition; one per-doc distinct, one
    gram-partitioned window (vocabulary-bounded partitions — a hub gram
    costs one linear spillable sort partition, the decontam trade), one
    doc-keyed aggregate. No pair space anywhere."""
    gview = _gram_view(spark, sf_dir, NOVELTY_N)
    return spark.sql(
        _novelty_body(gview).replace("{intdiv}", "DIV")
    )


TEXT_NGRAM_NOVELTY_SQL = _novelty_body(
    f"({_gram_hashes_duck(NOVELTY_N)})"
).replace("{intdiv}", "//")


# ---------------------------------------------------------------------------
# corpus_mix_entropy — domain-mixture diversity report
# ---------------------------------------------------------------------------


def _mix_entropy_body(docs_rel: str) -> str:
    """Engine-shared Shannon entropy of the source mixture with the
    effective-domain count exp(H) (the "perplexity of the mix") — the
    one-glance diversity dashboard for a pretraining mixture (entropy
    collapse = one provider dominating). Per-source terms p·(−ln p) are
    each ONE double expression over exact counts rounded to micro-nats,
    so the entropy total is an exact BIGINT sum; exp is evaluated once
    on the micro total."""
    return f"""
        WITH cnt AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM {docs_rel} GROUP BY source
        ),
        terms AS (
            SELECT source, n_docs,
                   CAST(n_docs * 1000000 {{intdiv}} n AS BIGINT) AS share_ppm,
                   CAST(round((n_docs / (1.0 * n))
                              * (-ln(n_docs / (1.0 * n))) * 1e6)
                        AS BIGINT) AS term_micro
            FROM cnt
            CROSS JOIN (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cnt) t
        )
        SELECT source, n_docs, share_ppm, term_micro,
               entropy_micro, eff_domains_micro
        FROM (
            SELECT '__total__' AS source,
                   CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                   CAST(1000000 AS BIGINT) AS share_ppm,
                   CAST(NULL AS BIGINT) AS term_micro,
                   CAST(SUM(term_micro) AS BIGINT) AS entropy_micro,
                   CAST(round(exp(SUM(term_micro) / 1e6) * 1e6) AS BIGINT)
                       AS eff_domains_micro,
                   0 AS pick
            FROM terms
            UNION ALL
            SELECT source, n_docs, share_ppm, term_micro,
                   NULL, NULL, 1
            FROM terms
        ) unioned
        ORDER BY pick, n_docs DESC, source
    """


def corpus_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture entropy + effective domains — see
    _mix_entropy_body. One scan → |sources|-bounded aggregate; all
    downstream arithmetic runs on that bounded relation (1-row total
    broadcast, no corpus-sized window)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "mix_docs_src"
    )
    return spark.sql(
        _mix_entropy_body("mix_docs_src").replace("{intdiv}", "DIV")
    )


CORPUS_MIX_ENTROPY_SQL = _mix_entropy_body("documents").replace(
    "{intdiv}", "//"
)


# ---------------------------------------------------------------------------
# decontaminate_ngram_sweep — contamination rate vs n-gram size
# ---------------------------------------------------------------------------

_SWEEP_NS = (4, 8, 13)  # 13 = the GPT-3 decontamination standard


def _sweep_level_sql(exploded_rel: str, n: int) -> str:
    """One level of the sweep: the base decontamination join (bench
    distinct grams → broadcast-class equi-join → hub-gram df cap) for
    gram size ``n``, collapsed to the corpus-level contamination row."""
    return f"""
        SELECT CAST({n} AS BIGINT) AS n,
               CAST((SELECT COUNT(DISTINCT gram_h) FROM {exploded_rel}
                     WHERE doc_id % {BENCH_MODULUS} = 0) AS BIGINT)
                   AS n_bench_grams,
               t.n_train AS n_train_docs,
               h.n_contaminated,
               h.n_shared_grams,
               CAST(CASE WHEN t.n_train > 0
                         THEN floor(h.n_contaminated * 1000000.0
                                    / t.n_train)
                         ELSE 0 END AS BIGINT) AS contam_ppm
        FROM (
            SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_train
            FROM {exploded_rel} WHERE doc_id % {BENCH_MODULUS} != 0
        ) t CROSS JOIN (
            -- one DISTINCT aggregate only: with two, Catalyst's distinct
            -- rewrite emits its Expand groups in a run-dependent order, so
            -- the plan (and its fingerprint) changed from run to run; a
            -- gram is counted at its first row instead
            SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT)
                       AS n_contaminated,
                   CAST(COUNT(CASE WHEN gram_rn = 1 THEN 1 END) AS BIGINT)
                       AS n_shared_grams
            FROM (
                SELECT e.doc_id, e.gram_h,
                       COUNT(*) OVER (PARTITION BY e.gram_h) AS train_df,
                       ROW_NUMBER() OVER (PARTITION BY e.gram_h
                                          ORDER BY e.doc_id) AS gram_rn
                FROM {exploded_rel} e
                JOIN (SELECT DISTINCT gram_h FROM {exploded_rel}
                      WHERE doc_id % {BENCH_MODULUS} = 0) b
                  ON b.gram_h = e.gram_h
                WHERE e.doc_id % {BENCH_MODULUS} != 0
            ) cand WHERE train_df <= {DECONTAM_GRAM_DF_CAP}
        ) h
    """


def decontaminate_ngram_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The decontamination SENSITIVITY curve: the corpus-level
    contamination rate of decontaminate_ngram_overlap's join, swept
    across gram sizes {_SWEEP_NS} — short grams over-flag (common
    phrases), 13-grams are the GPT-3 standard; the curve is what a
    curation run reads to pick n before committing to a scrub. Same
    candidate generation at every level (bench-distinct grams,
    broadcast-class equi-join on the 60-bit gram hash, hub-gram df
    cap), collapsed to one row per n.

    Scale posture: each level's exploded gram relation is the SAME
    session-memoized checkpoint the single-n operators read
    (``_gram_view`` — its multiple consumers here hit a leaf, not a
    re-explode); the per-level output is one row, the union three."""
    from functools import reduce

    levels = []
    for n in _SWEEP_NS:
        gview = _gram_view(spark, sf_dir, n)
        levels.append(spark.sql(
            "WITH exploded AS (SELECT doc_id, gram_h FROM "
            + gview + ") " + _sweep_level_sql("exploded", n)
        ))
    return reduce(lambda a, b: a.unionByName(b), levels).orderBy("n")


DECONTAMINATE_NGRAM_SWEEP_SQL = " UNION ALL ".join(
    f"""SELECT * FROM (
        WITH exploded AS MATERIALIZED ({_gram_hashes_duck(n)})
        {_sweep_level_sql('exploded', n)}
    ) lvl{n}"""
    for n in _SWEEP_NS
) + " ORDER BY n"


QUERIES: dict[str, tuple] = {
    "decontaminate_ngram_sweep": (
        decontaminate_ngram_sweep,
        DECONTAMINATE_NGRAM_SWEEP_SQL,
    ),
    "text_ngram_novelty": (text_ngram_novelty, TEXT_NGRAM_NOVELTY_SQL),
    "corpus_mix_entropy": (corpus_mix_entropy, CORPUS_MIX_ENTROPY_SQL),
    "text_collocations_pmi": (text_collocations_pmi, TEXT_COLLOCATIONS_PMI_SQL),
    "corpus_perplexity_buckets": (
        corpus_perplexity_buckets,
        CORPUS_PERPLEXITY_BUCKETS_SQL,
    ),
    "text_repetition_filter": (text_repetition_filter, TEXT_REPETITION_FILTER_SQL),
    "corpus_importance_dsir": (
        corpus_importance_dsir,
        CORPUS_IMPORTANCE_DSIR_SQL,
    ),
    "text_bigram_surprisal": (
        text_bigram_surprisal,
        TEXT_BIGRAM_SURPRISAL_SQL,
    ),
    "text_kneser_ney_surprisal": (
        text_kneser_ney_surprisal,
        TEXT_KNESER_NEY_SURPRISAL_SQL,
    ),
    "text_perplexity_unigram": (
        text_perplexity_unigram,
        TEXT_PERPLEXITY_UNIGRAM_SQL,
    ),
    "decontaminate_containment_ratio": (
        decontaminate_containment_ratio,
        DECONTAMINATE_CONTAINMENT_RATIO_SQL,
    ),
    "decontaminate_ngram_overlap": (
        decontaminate_ngram_overlap,
        DECONTAMINATE_NGRAM_OVERLAP_SQL,
    ),
    "pii_redact": (pii_redact, PII_REDACT_SQL),
    "pii_surface_profile": (pii_surface_profile, PII_SURFACE_PROFILE_SQL),
    "corpus_vocab_coverage": (corpus_vocab_coverage, CORPUS_VOCAB_COVERAGE_SQL),
}
