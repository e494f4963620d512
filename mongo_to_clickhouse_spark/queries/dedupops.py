"""Approximate-dedup operators: MinHash+LSH, SimHash, n-gram Jaccard.

Everything is deterministic — token hashes are md5-derived integers,
permutations are fixed (a·x + b) mod p universal hashes — so even these
"approximate" pipelines are exactly mirrored by DuckDB oracle SQL.

The fixture corpus has no real duplicates, so each pair-finding query runs
over a PLANTED corpus: every 50th document gets a mutated copy (first
token dropped, doc_id + 1,000,000) built identically in both engines. The
LSH/banding machinery then has true positives to find, and the oracle
verifies the whole chain end-to-end (shingle → signature → band →
bucket-join → verify).

Scale posture: the banding join is the whole point — candidate generation
is an equi-join on (band_idx, band_signature), never a quadratic pair
enumeration. Signatures are one explode + one groupBy per doc (shuffle
keyed by doc_id); band buckets are uniformly distributed md5 values, so
the join is skew-free. This is the 100 TB text-dedup architecture
(MinHashLSH as in Lee et al., "Deduplicating Training Data Makes Language
Models Better").
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_to_clickhouse_spark import cache
from mongo_to_clickhouse_spark.config import TUNING
from mongo_to_clickhouse_spark.io import load_table
from mongo_to_clickhouse_spark.operators.graph import connected_components
from mongo_to_clickhouse_spark.operators.materialize import cached_barrier_view

# Knobs come from config.EngineTuning (env-overridable via
# SPARK_GRAFT_TUNING before import); defaults are the driver-pinned values.
P = 2_147_483_647  # 2^31 - 1, Mersenne prime for (a·x + b) mod p
N_HASHES = TUNING.minhash_hashes
N_BANDS = TUNING.minhash_bands
ROWS_PER_BAND = N_HASHES // N_BANDS

_rng = np.random.RandomState(7)
A = [int(v) for v in _rng.randint(1, P - 1, N_HASHES)]
B = [int(v) for v in _rng.randint(0, P - 1, N_HASHES)]

SIMHASH_BITS = 64  # 4×16-bit bands: buckets don't saturate even at 10^9 docs
JACCARD_THRESHOLD = TUNING.jaccard_threshold
# df-cap for the exact-Jaccard self-join: shingles in more than this many
# same-block docs are dropped before pairing (see _ngram_jaccard_sql).
# ~10× the max fixture df, so it never binds on the fixtures.
JACCARD_SHINGLE_DF_CAP = TUNING.jaccard_shingle_df_cap
# SimHash over a ~100-word shared vocabulary is collision-prone; a tight
# radius keeps the pair set meaningful (planted mutations land at
# hamming ≈ 0 since dropping one token barely moves the sign sums).
HAMMING_THRESHOLD = TUNING.simhash_hamming_threshold


# ---------------------------------------------------------------------------
# shared SQL fragments, written twice (Spark SQL / DuckDB SQL) where the
# dialects diverge. Spark side still runs through Catalyst (spark.sql).
# ---------------------------------------------------------------------------

def _planted_corpus(dialect: str) -> str:
    """documents ∪ mutated copies (drop first token) of every 50th doc."""
    if dialect == "spark":
        cut = "substring(text, instr(text, ' ') + 1)"
    else:
        cut = "substr(text, strpos(text, ' ') + 1)"
    return f"""
        SELECT doc_id, text, lang, source FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, {cut} AS text, lang, source
        FROM documents WHERE doc_id % 50 = 0
    """


def _shingles(dialect: str) -> str:
    """corpus → (doc_id, trigram-shingle array, distinct).

    Shingles are stored as the repo-standard 60-bit md5 truncation
    (``_md5_int``), not trigram strings: every downstream consumer
    (minhash universal hashes, band signatures, Jaccard intersection,
    the ngram equi-join) treats them as opaque comparable keys, and
    8-byte integers make the materialized barrier ~3× smaller and every
    shuffle/compare integer-cheap. Both engines apply the identical
    truncation, so results match even in the (negligible, 60-bit)
    collision case."""
    if dialect == "spark":
        tri = (
            "concat(element_at(toks, i), ' ', element_at(toks, i + 1), "
            "' ', element_at(toks, i + 2))"
        )
        return f"""
            SELECT doc_id,
                   array_distinct(
                     CASE WHEN size(toks) >= 3 THEN
                       transform(sequence(1, size(toks) - 2),
                                 i -> {_md5_int('spark', tri)})
                     ELSE array() END) AS shingles
            FROM (SELECT doc_id, split(text, ' ') AS toks FROM corpus)
        """
    tri = "toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]"
    return f"""
        SELECT doc_id,
               list_distinct(
                 CASE WHEN len(toks) >= 3 THEN
                   list_transform(generate_series(1, len(toks) - 2),
                                  i -> {_md5_int('duck', tri)})
                 ELSE CAST([] AS BIGINT[]) END) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus)
    """


def _md5_int(dialect: str, expr: str) -> str:
    """Deterministic 60-bit integer hash of a string, identical in both
    engines: int(md5(x)[:15], 16)."""
    if dialect == "spark":
        return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def _explode_shingles(dialect: str) -> str:
    if dialect == "spark":
        return (
            "SELECT doc_id, explode(shingles) AS shingle FROM shingled"
        )
    return "SELECT doc_id, unnest(shingles) AS shingle FROM shingled"


def _minhash_sig_sql(dialect: str) -> str:
    """(doc_id, mh0..mh15) minhash signature via k universal hashes over
    the (already md5-int) shingle hashes."""
    x = "shingle"
    mins = ",\n               ".join(
        f"MIN(({A[i]} * (x % {P}) + {B[i]}) % {P}) AS mh{i}"
        for i in range(N_HASHES)
    )
    return f"""
        SELECT doc_id, {mins}
        FROM (SELECT doc_id, {x} AS x FROM ({_explode_shingles(dialect)}))
        GROUP BY doc_id
    """


def _band_sql(dialect: str) -> str:
    """signature → (doc_id, band_idx, band_sig) rows, band_sig = md5 of the
    band's minima."""
    parts = []
    for b in range(N_BANDS):
        cols = ", ".join(
            f"CAST(mh{b * ROWS_PER_BAND + i} AS VARCHAR)"
            if dialect == "duck"
            else f"CAST(mh{b * ROWS_PER_BAND + i} AS STRING)"
            for i in range(ROWS_PER_BAND)
        )
        parts.append(
            f"SELECT doc_id, {b} AS band_idx, "
            f"md5(concat_ws(',', {cols})) AS band_sig FROM sigs"
        )
    return " UNION ALL ".join(parts)


def _jaccard_expr(dialect: str, a: str, b: str) -> str:
    if dialect == "spark":
        return (
            f"size(array_intersect({a}.shingles, {b}.shingles)) / "
            f"CAST(size(array_union({a}.shingles, {b}.shingles)) AS DOUBLE)"
        )
    return (
        f"len(list_filter({a}.shingles, s -> list_contains({b}.shingles, s))) / "
        f"CAST(len({a}.shingles) + len({b}.shingles)"
        f" - len(list_filter({a}.shingles, s -> list_contains({b}.shingles, s)))"
        f" AS DOUBLE)"
    )


def _minhash_full_sql(
    dialect: str,
    what: str,
    shingled_from: str | None = None,
    bands_from: str | None = None,
) -> str:
    """Assemble the full WITH-chain; ``what`` = 'sigs' | 'pairs'.

    ``shingled_from``: name of a pre-materialized shingled relation (Spark
    path). Without it the shingle build is an inline CTE — fine for DuckDB,
    but Spark collapses the array-construction projection INTO the explode
    (Generate), re-evaluating the full trigram build per emitted row
    (~100× overhead measured at sf0.1). The Spark query functions therefore
    disk-persist the shingled relation first and reference it by view
    name; at cluster scale this is the same discipline as persisting the
    shingle table before the signature pass."""
    shingled_src = shingled_from or f"({_shingles(dialect)})"
    sql = f"""
        WITH corpus AS ({_planted_corpus(dialect)}),
        shingled AS (SELECT * FROM {shingled_src}),
        sigs AS ({_minhash_sig_sql(dialect)})
    """
    if what == "sigs":
        return sql + "SELECT * FROM sigs"
    if bands_from is not None:
        # Spark path: bands pre-materialized (see _bands_view) — the
        # self-join below would otherwise inline the signature subtree
        # once per side
        sql = f"""
        WITH shingled AS (SELECT * FROM {shingled_src}),
        bands AS (SELECT * FROM {bands_from})
        """
        return sql + f""",
        cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
        )
        SELECT a_id, b_id, round(jac, 6) AS jaccard FROM (
            SELECT c.a_id, c.b_id,
                   {_jaccard_expr(dialect, 'sa', 'sb')} AS jac
            FROM cand c
            JOIN shingled sa ON sa.doc_id = c.a_id
            JOIN shingled sb ON sb.doc_id = c.b_id
        ) WHERE jac >= {JACCARD_THRESHOLD}
    """
    return sql + f""",
        bands AS ({_band_sql(dialect)}),
        cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
        )
        SELECT a_id, b_id, round(jac, 6) AS jaccard FROM (
            SELECT c.a_id, c.b_id,
                   {_jaccard_expr(dialect, 'sa', 'sb')} AS jac
            FROM cand c
            JOIN shingled sa ON sa.doc_id = c.a_id
            JOIN shingled sb ON sb.doc_id = c.b_id
        ) WHERE jac >= {JACCARD_THRESHOLD}
    """


def _register_docs(spark: SparkSession, sf_dir: str) -> None:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")


def _shingled_view(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the (doc_id, shingles) relation once (disk-persist)
    and expose it as a temp view, so the downstream explode's child is a
    plain column — see _minhash_full_sql docstring for why."""
    _register_docs(spark, sf_dir)

    def build():
        return spark.sql(
            f"WITH corpus AS ({_planted_corpus('spark')}) {_shingles('spark')}"
        )

    return cached_barrier_view(spark, sf_dir, "shingled_mat", build)


def _bands_view(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized (doc_id, band_idx, band_sig) barrier — the LSH
    index relation. Both LSH consumers reference bands on BOTH sides of
    an equi-join (pairs: bands×bands; incremental: new×hist), and Spark
    inlines each reference's whole signature subtree (explode + 16-MIN
    groupBy over the corpus) — the barrier makes it one signature pass
    per (session, fixture), which is also the production shape: the band
    table IS the persisted index."""
    shingled = _shingled_view(spark, sf_dir)

    def build():
        return spark.sql(
            _minhash_full_sql("spark", "sigs", shingled_from=shingled)
            .replace("SELECT * FROM sigs", "")
            + f", bands AS ({_band_sql('spark')}) SELECT * FROM bands"
        )

    return cached_barrier_view(spark, sf_dir, "mh_bands", build)


def dedup_minhash_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature (16 universal hashes over trigram
    shingles) on the planted corpus."""
    view = _shingled_view(spark, sf_dir)
    return spark.sql(_minhash_full_sql("spark", "sigs", shingled_from=view))


DEDUP_MINHASH_APPROX_SQL = _minhash_full_sql("duck", "sigs")


def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH dedup: shingle → signature → 4×4 banding →
    bucket equi-join → Jaccard verification ≥ 0.5. Finds the planted
    near-duplicate pairs."""
    view = _shingled_view(spark, sf_dir)
    bands = _bands_view(spark, sf_dir)
    return spark.sql(
        _minhash_full_sql(
            "spark", "pairs", shingled_from=view, bands_from=bands
        )
    )


DEDUP_MINHASH_LSH_PAIRS_SQL = _minhash_full_sql("duck", "pairs")


def _incremental_chain(
    dialect: str,
    shingled_from: str | None = None,
    bands_from: str | None = None,
) -> str:
    """Shared WITH-chain for the incremental-LSH family: shingles →
    signatures → bands → historical/new split → band-probe candidates →
    Jaccard verification → best match per new doc. Consumed by
    ``_incremental_minhash_sql`` (the probe report) and
    ``_minhash_upsert_sql`` (the index-maintenance step)."""
    shingled_src = shingled_from or f"({_shingles(dialect)})"
    if bands_from is not None:
        prefix = f"""
        WITH shingled AS (SELECT * FROM {shingled_src}),
        bands AS (SELECT * FROM {bands_from}),"""
    else:
        prefix = f"""
        WITH corpus AS ({_planted_corpus(dialect)}),
        shingled AS (SELECT * FROM {shingled_src}),
        sigs AS ({_minhash_sig_sql(dialect)}),
        bands AS ({_band_sql(dialect)}),"""
    return f"""{prefix}
        hist_bands AS (
            SELECT * FROM bands
            WHERE doc_id < 1000000 AND doc_id % 10 != 3
        ),
        new_bands AS (
            SELECT * FROM bands
            WHERE doc_id >= 1000000 OR doc_id % 10 = 3
        ),
        cand AS (
            SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
            FROM new_bands n JOIN hist_bands h
              ON n.band_idx = h.band_idx AND n.band_sig = h.band_sig
        ),
        verified AS (
            SELECT c.new_id, c.hist_id,
                   round({_jaccard_expr(dialect, 'sa', 'sb')}, 6) AS jac
            FROM cand c
            JOIN shingled sa ON sa.doc_id = c.new_id
            JOIN shingled sb ON sb.doc_id = c.hist_id
        ),
        best AS (
            SELECT new_id, hist_id, jac FROM (
                SELECT new_id, hist_id, jac,
                       ROW_NUMBER() OVER (
                           PARTITION BY new_id
                           ORDER BY jac DESC, hist_id) AS rn
                FROM verified WHERE jac >= {JACCARD_THRESHOLD}
            ) r WHERE rn = 1
        )"""


def _incremental_minhash_sql(
    dialect: str,
    shingled_from: str | None = None,
    bands_from: str | None = None,
) -> str:
    """Incremental MinHash-LSH: the NEW-BATCH near-dup check against a
    HISTORICAL index — the production form where yesterday's corpus
    keeps its band-signature table and only the fresh crawl is banded
    and probed (the incremental twin of dedup_minhash_lsh_pairs, and
    the approximate twin of dedup_incremental_exact).

    Split on the planted corpus: historical = original docs except the
    %10==3 holdout; new batch = the planted mutated copies (+1e6 ids,
    true near-dups of their sources) ∪ the %10==3 originals (novel —
    no near-dup exists in historical). Candidates come from the band
    equi-join NEW×HIST only (never hist×hist — the index side is
    pre-built), verified by exact Jaccard, best match per new doc by
    (jaccard desc, hist_id)."""
    return f"""{_incremental_chain(dialect, shingled_from, bands_from)}
        SELECT nd.doc_id,
               b.hist_id AS best_match,
               b.jac AS best_jaccard,
               (b.hist_id IS NULL) AS is_novel
        FROM (SELECT DISTINCT doc_id FROM new_bands) nd
        LEFT JOIN best b ON b.new_id = nd.doc_id
        ORDER BY nd.doc_id
    """


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup check of a new batch against the historical
    LSH index — see _incremental_minhash_sql.

    Scale posture: the historical band table is the PERSISTED index at
    production (written once per ingest, bucketed by (band_idx,
    band_sig)); per batch, only |batch|·bands rows shuffle into the
    probe join, candidates are verified by one shingle join each, and
    the best-match window partitions by new doc. Nothing rescans the
    historical corpus text."""
    view = _shingled_view(spark, sf_dir)
    bands = _bands_view(spark, sf_dir)
    return spark.sql(
        _incremental_minhash_sql(
            "spark", shingled_from=view, bands_from=bands
        )
    )


DEDUP_INCREMENTAL_MINHASH_SQL = _incremental_minhash_sql("duck")


def _minhash_upsert_sql(
    dialect: str,
    shingled_from: str | None = None,
    bands_from: str | None = None,
) -> str:
    """MinHash index MAINTENANCE — the write path dedup_incremental_minhash
    stops short of: new docs that verified as near-dups of the historical
    index are REJECTED (their band rows never enter the index; the
    canonical doc is already indexed), accepted (novel) docs' band rows
    are INSERTED, and the report is the per-band index-health audit a
    production ingest alerts on: row/bucket counts before vs after, the
    hottest bucket, and Σ|bucket|² — the exact candidate-work bound the
    scale rehearsal watches (a super-linear jump here predicts probe-join
    blowup BEFORE it happens).

    Engine-shared body over the same incremental chain; everything is
    exact integer counts."""
    return f"""{_incremental_chain(dialect, shingled_from, bands_from)},
        accepted AS (
            SELECT nd.doc_id
            FROM (SELECT DISTINCT doc_id FROM new_bands) nd
            LEFT JOIN best b ON b.new_id = nd.doc_id
            WHERE b.new_id IS NULL
        ),
        ins AS (
            SELECT nb.band_idx, nb.band_sig
            FROM new_bands nb JOIN accepted a ON a.doc_id = nb.doc_id
        ),
        aft AS (
            SELECT band_idx, band_sig FROM hist_bands
            UNION ALL SELECT band_idx, band_sig FROM ins
        ),
        occ AS (
            SELECT band_idx, band_sig, CAST(COUNT(*) AS BIGINT) AS c
            FROM aft GROUP BY band_idx, band_sig
        ),
        stats_after AS (
            SELECT band_idx,
                   CAST(SUM(c) AS BIGINT) AS rows_after,
                   CAST(COUNT(*) AS BIGINT) AS buckets_after,
                   CAST(MAX(c) AS BIGINT) AS max_bucket_after,
                   CAST(SUM(c * c) AS BIGINT) AS pair_work_after
            FROM occ GROUP BY band_idx
        ),
        stats_before AS (
            SELECT band_idx,
                   CAST(COUNT(*) AS BIGINT) AS rows_before,
                   CAST(COUNT(DISTINCT band_sig) AS BIGINT) AS buckets_before
            FROM hist_bands GROUP BY band_idx
        ),
        stats_ins AS (
            SELECT band_idx, CAST(COUNT(*) AS BIGINT) AS rows_inserted
            FROM ins GROUP BY band_idx
        )
        SELECT bf.band_idx, bf.rows_before, bf.buckets_before,
               CAST(COALESCE(i.rows_inserted, 0) AS BIGINT) AS rows_inserted,
               a.rows_after, a.buckets_after,
               a.max_bucket_after, a.pair_work_after
        FROM stats_before bf
        JOIN stats_after a ON a.band_idx = bf.band_idx
        LEFT JOIN stats_ins i ON i.band_idx = bf.band_idx
        ORDER BY bf.band_idx
    """


def dedup_minhash_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash index upsert + health audit — see
    _minhash_upsert_sql. Closes the maintenance gap next to
    dedup_incremental_minhash (the read path): this is the batch form of
    the streaming index-update a 100 TB ingest runs per micro-batch.

    Scale posture: rides the SAME memoized shingle/band barriers as the
    whole LSH family (the band table IS the persisted index); the insert
    set is |accepted|·bands rows, the audit is two bounded groupBys keyed
    by (band_idx, band_sig) — uniform 60-bit keys, map-side combined.
    Σ|bucket|² is reported, never enumerated."""
    view = _shingled_view(spark, sf_dir)
    bands = _bands_view(spark, sf_dir)
    return spark.sql(
        _minhash_upsert_sql("spark", shingled_from=view, bands_from=bands)
    )


DEDUP_MINHASH_INDEX_UPSERT_SQL = _minhash_upsert_sql("duck")


# ---------------------------------------------------------------------------
# stream_minhash_index_upsert — the upsert as a live Structured Streaming
# foreachBatch ingest against a persisted index
# ---------------------------------------------------------------------------

_STREAM_UPSERT_BATCHES = 3


def stream_minhash_index_upsert(
    spark: SparkSession, sf_dir: str,
    n_batches: int | None = None, work_dir: str | None = None,
) -> DataFrame:
    """The MinHash index-maintenance write path as an actual STREAMING
    ingest (the form dedup_minhash_index_upsert is the one-batch
    equivalent of): new docs arrive in micro-batches (availableNow,
    one staged file per trigger), and each foreachBatch (1) shingles +
    bands the batch with the same SQL kernels as the batch family,
    (2) probes the PERSISTED band index — historical seed plus every
    earlier batch's inserts — (3) verifies candidates by exact Jaccard
    against the persisted shingle store, (4) appends the novel docs'
    band rows and shingles to the index, and (5) appends one exact
    accounting row. The returned relation is the per-batch accounting
    — the ingest-health feed a production dedup service alerts on.

    Determinism & oracle: batches are split by ``doc_id % 3`` (staged
    as one file each, modification-time ordered, so availableNow runs
    them in that order), and state only advances at batch boundaries —
    so the closed-horizon semantics are an UNROLLED 3-step SQL chain
    (batch k probes hist ∪ ins₀..ins_{k-1}; within-batch near-dups of
    each other are BOTH accepted, the documented at-least-once
    property both engines state identically).

    Scale posture: identical per-batch plan shape to the batch upsert
    (band equi-join NEW×INDEX only, Jaccard verify on candidates); the
    index is an append-only parquet table exactly like a production
    band store. Driver work is control-plane only (staging + stream
    wiring); every count is computed and appended engine-side."""
    import tempfile
    import uuid

    from mongo_to_clickhouse_spark.streaming.util import await_drained

    # n_batches / work_dir are test knobs (the round-11 soak gate drives
    # ~50 micro-batches and inspects the checkpoint before cleanup); the
    # registry id always runs the default so the unrolled oracle holds
    nb = n_batches or _STREAM_UPSERT_BATCHES
    work = work_dir or tempfile.mkdtemp(
        prefix=f"mhup-{uuid.uuid4().hex[:8]}-"
    )
    src = os.path.join(work, "source")
    idx_bands = os.path.join(work, "index_bands")
    idx_shingles = os.path.join(work, "index_shingles")
    acct = os.path.join(work, "acct")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src)

    _register_docs(spark, sf_dir)
    bands_view = _bands_view(spark, sf_dir)
    shingled_view = _shingled_view(spark, sf_dir)
    hist_pred = "doc_id < 1000000 AND doc_id % 10 != 3"
    spark.table(bands_view).filter(hist_pred).write.parquet(idx_bands)
    spark.table(shingled_view).filter(hist_pred).write.parquet(
        idx_shingles
    )

    # stage the new batch split by doc_id % 3, one file per micro-batch,
    # strictly increasing mtimes so the file source triggers them in order
    new_docs = spark.sql(
        f"WITH corpus AS ({_planted_corpus('spark')}) "
        "SELECT doc_id, text FROM corpus "
        "WHERE doc_id >= 1000000 OR doc_id % 10 = 3"
    )
    base_t = 1_700_000_000
    for k in range(nb):
        tmp = os.path.join(work, f"stage{k}")
        new_docs.filter(F.col("doc_id") % nb == k
                        ).coalesce(1).write.parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"b{k}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (base_t + k, base_t + k))

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands a DataFrame bound to the micro-batch's own
        # session — register and query everything through THAT session
        sess = batch_df.sparkSession
        tag = uuid.uuid4().hex[:8]
        bv, bsh, bb = f"mh_b_{tag}", f"mh_sh_{tag}", f"mh_bd_{tag}"
        hb, hs = f"mh_idx_{tag}", f"mh_ish_{tag}"
        batch_df.createOrReplaceTempView(bv)
        sess.read.parquet(idx_bands).createOrReplaceTempView(hb)
        sess.read.parquet(idx_shingles).createOrReplaceTempView(hs)
        sess.sql(
            f"WITH corpus AS (SELECT doc_id, text FROM {bv}) "
            + _shingles("spark")
        ).createOrReplaceTempView(bsh)
        sess.sql(
            f"WITH shingled AS (SELECT * FROM {bsh}), "
            f"sigs AS ({_minhash_sig_sql('spark')}), "
            f"bands AS ({_band_sql('spark')}) SELECT * FROM bands"
        ).createOrReplaceTempView(bb)
        novel = f"""
            WITH cand AS (
                SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
                FROM {bb} n JOIN {hb} h
                  ON n.band_idx = h.band_idx AND n.band_sig = h.band_sig
            ),
            dup AS (
                SELECT DISTINCT c.new_id FROM cand c
                JOIN {bsh} sa ON sa.doc_id = c.new_id
                JOIN {hs} sb ON sb.doc_id = c.hist_id
                WHERE round({_jaccard_expr('spark', 'sa', 'sb')}, 6)
                      >= {JACCARD_THRESHOLD}
            ),
            probed AS (SELECT DISTINCT doc_id FROM {bb}),
            novel AS (
                SELECT p.doc_id FROM probed p
                LEFT JOIN dup d ON d.new_id = p.doc_id
                WHERE d.new_id IS NULL
            )
        """
        # accounting FIRST (it reads the index pre-insert); exact
        # engine-side counts, no driver materialization
        sess.sql(
            novel + f"""
            SELECT CAST({batch_id} AS BIGINT) AS batch_id,
                   CAST((SELECT COUNT(*) FROM probed) AS BIGINT)
                       AS n_probed,
                   CAST((SELECT COUNT(*) FROM novel) AS BIGINT)
                       AS n_novel,
                   CAST((SELECT COUNT(*)
                         FROM {bb} n JOIN novel v ON v.doc_id = n.doc_id)
                        AS BIGINT) AS rows_inserted
            """
        ).write.mode("append").parquet(acct)
        # stage the inserts, then append the staged rows (never read and
        # write the same index dir inside one job)
        ins_b = os.path.join(work, f"insb_{tag}")
        ins_s = os.path.join(work, f"inss_{tag}")
        sess.sql(
            novel
            + f"SELECT n.* FROM {bb} n JOIN novel v ON v.doc_id = n.doc_id"
        ).write.parquet(ins_b)
        sess.sql(
            novel
            + f"SELECT s.* FROM {bsh} s JOIN novel v ON v.doc_id = s.doc_id"
        ).write.parquet(ins_s)
        sess.read.parquet(ins_b).write.mode("append").parquet(idx_bands)
        sess.read.parquet(ins_s).write.mode("append").parquet(
            idx_shingles
        )
        # the per-batch views are uuid-tagged; drop them or a long-lived
        # session leaks 5 catalog entries per micro-batch (the ivf twin
        # got this fix in round 10; the round-11 soak gate asserts it)
        for v in (bv, bsh, bb, hb, hs):
            sess.catalog.dropTempView(v)

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)
    # Materialize the (tiny — one row per micro-batch) accounting table
    # and delete the work dir before returning: the staged batches, band
    # and shingle indexes, and checkpoint would otherwise leak a tempdir
    # per invocation (including every benchmark rep).
    rows = spark.read.parquet(acct).orderBy("batch_id").collect()
    schema = spark.read.parquet(acct).schema
    if work_dir is None:
        shutil.rmtree(work, ignore_errors=True)
    from mongo_to_clickhouse_spark.operators.literalrel import (
        literal_rows_df,
    )

    return literal_rows_df(
        spark, [tuple(r) for r in rows], schema
    ).orderBy("batch_id")


def _stream_upsert_oracle() -> str:
    """Closed-horizon oracle for stream_minhash_index_upsert: the
    3-step unrolled chain (see its docstring)."""
    d = "duck"
    parts = [f"""
        WITH corpus AS ({_planted_corpus(d)}),
        shingled AS ({_shingles(d)}),
        sigs AS ({_minhash_sig_sql(d)}),
        bands AS ({_band_sql(d)}),
        hist0 AS (SELECT doc_id, band_idx, band_sig FROM bands
                  WHERE doc_id < 1000000 AND doc_id % 10 != 3),
        newb AS (SELECT doc_id, band_idx, band_sig FROM bands
                 WHERE doc_id >= 1000000 OR doc_id % 10 = 3)"""]
    for k in range(_STREAM_UPSERT_BATCHES):
        parts.append(f""",
        n{k} AS (SELECT * FROM newb
                 WHERE doc_id % {_STREAM_UPSERT_BATCHES} = {k}),
        cand{k} AS (
            SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
            FROM n{k} n JOIN hist{k} h
              ON n.band_idx = h.band_idx AND n.band_sig = h.band_sig
        ),
        dup{k} AS (
            SELECT DISTINCT c.new_id FROM cand{k} c
            JOIN shingled sa ON sa.doc_id = c.new_id
            JOIN shingled sb ON sb.doc_id = c.hist_id
            WHERE round({_jaccard_expr(d, 'sa', 'sb')}, 6)
                  >= {JACCARD_THRESHOLD}
        ),
        probed{k} AS (SELECT DISTINCT doc_id FROM n{k}),
        novel{k} AS (
            SELECT p.doc_id FROM probed{k} p
            LEFT JOIN dup{k} x ON x.new_id = p.doc_id
            WHERE x.new_id IS NULL
        ),
        ins{k} AS (
            SELECT n.doc_id, n.band_idx, n.band_sig
            FROM n{k} n JOIN novel{k} v ON v.doc_id = n.doc_id
        ),
        hist{k + 1} AS (SELECT * FROM hist{k}
                        UNION ALL SELECT * FROM ins{k})""")
    selects = [
        f"""SELECT CAST({k} AS BIGINT) AS batch_id,
               CAST((SELECT COUNT(*) FROM probed{k}) AS BIGINT) AS n_probed,
               CAST((SELECT COUNT(*) FROM novel{k}) AS BIGINT) AS n_novel,
               CAST((SELECT COUNT(*) FROM ins{k}) AS BIGINT)
                   AS rows_inserted"""
        for k in range(_STREAM_UPSERT_BATCHES)
    ]
    return "".join(parts) + " " + " UNION ALL ".join(selects) \
        + " ORDER BY batch_id"


STREAM_MINHASH_INDEX_UPSERT_SQL = _stream_upsert_oracle()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_sql(dialect: str, what: str, toks_from: str | None = None,
                 hashes_from: str | None = None) -> str:
    # 64 independent bits from two 32-bit md5 slices (a single 60-bit slice
    # would leave the top band underpopulated).
    # hashes_from (Spark pairs path): the banded UNION ALL references
    # `hashes` from 8 places (4 bands x 2 join sides) — inline, Catalyst
    # re-runs the token explode + 64-bit sign aggregation per reference;
    # the pre-materialized (doc_id, simhash) view makes each a leaf scan.
    if dialect == "spark":
        x_lo = "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT)"
        x_hi = "CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT)"
        bit = lambda j: (  # noqa: E731
            f"(shiftright(x_lo, {j}) & 1)" if j < 32
            else f"(shiftright(x_hi, {j - 32}) & 1)"
        )
        toks_rel = toks_from or (
            "(SELECT doc_id, array_distinct(split(text, ' ')) AS toks FROM corpus)"
        )
        unnest_toks = f"SELECT doc_id, explode(toks) AS tok FROM {toks_rel}"
    else:
        x_lo = "CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)"
        x_hi = "CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT)"
        bit = lambda j: (  # noqa: E731
            f"((x_lo >> {j}) & 1)" if j < 32
            else f"((x_hi >> {j - 32}) & 1)"
        )
        toks_rel = toks_from or (
            "(SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks "
            "FROM corpus)"
        )
        unnest_toks = f"SELECT doc_id, unnest(toks) AS tok FROM {toks_rel}"
    sums = ",\n               ".join(
        f"SUM(CASE WHEN {bit(j)} = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    # bit 63 is the sign bit of a signed 64-bit value: setting it is adding
    # -2^63 in two's complement (both engines store BIGINT that way).
    assemble = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN CAST("
        + (str(1 << j) if j < 63 else "-9223372036854775808")
        + " AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    if hashes_from is not None:
        sql = f"""
        WITH hashes AS (SELECT * FROM {hashes_from})
    """
    else:
        sql = f"""
        WITH corpus AS ({_planted_corpus(dialect)}),
        bits AS (
            SELECT doc_id, {sums}
            FROM (SELECT doc_id, {x_lo} AS x_lo, {x_hi} AS x_hi
                  FROM ({unnest_toks}))
            GROUP BY doc_id
        ),
        hashes AS (SELECT doc_id, {assemble} AS simhash FROM bits)
    """
    if what == "hashes":
        return sql + "SELECT * FROM hashes"
    # pairs: band-blocked hamming join. 4 bands × 16 bits: by pigeonhole,
    # hamming ≤ 3 leaves at least one band untouched, so recall is
    # GUARANTEED for the threshold (2) — 2 bands would only guarantee ≤ 1.
    # (arithmetic >> sign-extends the high band; & 65535 masks that away)
    if dialect == "spark":
        shift = lambda j: f"shiftright(simhash, {j})"  # noqa: E731
        hamming = "bit_count(a.simhash ^ b.simhash)"
    else:
        shift = lambda j: f"(simhash >> {j})"  # noqa: E731
        # duck bit_count → TINYINT; pin to Spark's INTEGER for the driver hash
        hamming = "CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)"
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS band_idx, "
        f"({shift(16 * i)} & 65535) AS band_val FROM hashes"
        for i in range(4)
    )
    return sql + f""",
        banded AS ({band_rows})
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
               {hamming} AS hamming
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        WHERE {hamming} <= {HAMMING_THRESHOLD}
    """


def _toks_view(spark: SparkSession, sf_dir: str) -> str:
    """Materialized (doc_id, distinct-token array) relation — same
    explode-recompute avoidance as _shingled_view."""
    _register_docs(spark, sf_dir)

    def build():
        return spark.sql(
            f"WITH corpus AS ({_planted_corpus('spark')}) "
            "SELECT doc_id, array_distinct(split(text, ' ')) AS toks FROM corpus"
        )

    return cached_barrier_view(spark, sf_dir, "toks_mat", build)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (sign-aggregated token-hash bits) on the
    planted corpus."""
    view = _toks_view(spark, sf_dir)
    return spark.sql(_simhash_sql("spark", "hashes", toks_from=view))


DEDUP_SIMHASH_SQL = _simhash_sql("duck", "hashes")


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4×16-bit band blocking (pigeonhole: hamming
    ≤ 3 leaves one band untouched, so recall is guaranteed at the
    threshold) + exact hamming verify. The (doc_id, simhash) relation is
    checkpointed once (see _simhash_sql's hashes_from note) so the eight
    banded references scan a leaf instead of re-running the explode."""
    view = _toks_view(spark, sf_dir)
    hashes = cached_barrier_view(
        spark, sf_dir, "simhash_hashes",
        lambda: spark.sql(_simhash_sql("spark", "hashes", toks_from=view)),
    )
    return spark.sql(_simhash_sql("spark", "pairs", hashes_from=hashes))


DEDUP_SIMHASH_PAIRS_SQL = _simhash_sql("duck", "pairs")


# ---------------------------------------------------------------------------
# n-gram Jaccard (blocked exact pairwise)
# ---------------------------------------------------------------------------

def _ngram_jaccard_sql(dialect: str, shingled_from: str | None = None,
                       pruned_from: str | None = None,
                       sizes_from: str | None = None) -> str:
    """Join-based set-similarity: explode shingles, equi-join on
    (source, shingle), count shared shingles per pair, then
    |A∩B| / (|A| + |B| - |A∩B|). Pairs sharing zero shingles never
    materialize — versus per-pair array_intersect over the full blocked
    cross product, this is the scalable shape (and ~20× faster at sf0.1).

    Hot-shingle guard (df-cap): a shingle appearing in k same-block docs
    emits k² join rows, so stop-word trigrams become quadratic hubs at
    corpus scale. ``eligible`` drops shingles whose per-(source) document
    frequency exceeds JACCARD_SHINGLE_DF_CAP before the self-join — the
    standard df-filter from set-similarity joins (hubs that common carry
    no similarity signal; a ≥0.5-Jaccard pair shares half its shingles,
    so losing one capped hub cannot flip membership in practice).
    Applied identically in BOTH engines; the cap (64) is ~10× the max
    fixture df (7 at sf0.1), so fixture results are bit-identical with
    or without the guard — tests/test_dedup_guards.py plants a hot gram
    to prove the guard actually prunes.

    ``pruned_from``/``sizes_from`` (Spark path): the pruned relation
    feeds BOTH sides of the self-join and the eligible df-filter also
    re-reads the explode — inline, Catalyst re-ran the shingle explode
    four times and the corpus join twelve (plan: 4 generates /
    12 scans; 0/0 with the two relations checkpointed). Persisting the
    pruned token list before a set-similarity self-join is also the
    production shape at corpus scale.
    """
    shingled_src = shingled_from or f"({_shingles(dialect)})"
    unnest = (
        "explode(shingles)" if dialect == "spark" else "unnest(shingles)"
    )
    size_fn = "size" if dialect == "spark" else "len"
    if pruned_from is not None and sizes_from is not None:
        prefix = f"""
        WITH pruned AS (SELECT * FROM {pruned_from}),
        sizes0 AS (SELECT * FROM {sizes_from}),"""
    else:
        prefix = f"""
        WITH corpus AS ({_planted_corpus(dialect)}),
        shingled AS (
            SELECT s.doc_id, s.shingles, c.source
            FROM {shingled_src} s JOIN corpus c ON s.doc_id = c.doc_id
        ),
        exploded AS (SELECT doc_id, source, {unnest} AS sh FROM shingled),
        eligible AS (
            SELECT source, sh FROM exploded
            GROUP BY source, sh
            HAVING COUNT(*) <= {JACCARD_SHINGLE_DF_CAP}
        ),
        pruned AS (
            SELECT e.doc_id, e.source, e.sh
            FROM exploded e JOIN eligible g
              ON e.source = g.source AND e.sh = g.sh
        ),
        sizes0 AS (SELECT doc_id, {size_fn}(shingles) AS n FROM shingled),"""
    return f"""{prefix}
        inter AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
            FROM pruned a JOIN pruned b
              ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        sizes AS (SELECT doc_id, n FROM sizes0)
        SELECT a_id, b_id, round(jac, 6) AS jaccard FROM (
            SELECT a_id, b_id,
                   n_shared / CAST(sa.n + sb.n - n_shared AS DOUBLE) AS jac
            FROM inter
            JOIN sizes sa ON sa.doc_id = a_id
            JOIN sizes sb ON sb.doc_id = b_id
        ) WHERE jac >= {JACCARD_THRESHOLD}
    """


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard near-dup pairs, blocked by source (a real
    pipeline always blocks before pairwise comparison). The df-capped
    token list and the size relation are checkpointed once — see
    _ngram_jaccard_sql's pruned_from note."""
    view = _shingled_view(spark, sf_dir)

    def build_pruned():
        return spark.sql(f"""
            WITH corpus AS ({_planted_corpus('spark')}),
            exploded AS (
                SELECT s.doc_id, c.source, explode(s.shingles) AS sh
                FROM {view} s JOIN corpus c ON s.doc_id = c.doc_id
            ),
            eligible AS (
                SELECT source, sh FROM exploded
                GROUP BY source, sh
                HAVING COUNT(*) <= {JACCARD_SHINGLE_DF_CAP}
            )
            SELECT e.doc_id, e.source, e.sh
            FROM exploded e JOIN eligible g
              ON e.source = g.source AND e.sh = g.sh
        """)

    # the cap is part of the relation's identity: key the memoized view
    # on it so a re-tuned (or test-monkeypatched) cap can never alias a
    # stale materialization
    pruned = cached_barrier_view(
        spark, sf_dir, f"jacc_pruned_{JACCARD_SHINGLE_DF_CAP}", build_pruned
    )
    sizes = cached_barrier_view(
        spark, sf_dir, "jacc_sizes",
        lambda: spark.sql(
            f"SELECT doc_id, size(shingles) AS n FROM {view}"
        ),
    )
    return spark.sql(_ngram_jaccard_sql(
        "spark", pruned_from=pruned, sizes_from=sizes
    ))


DEDUP_NGRAM_JACCARD_SQL = _ngram_jaccard_sql("duck")


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CC fixed point over the LSH pair edges is a multi-job
    iteration (operators/graph.py) consumed by TWO registry ids; the
    final label relation is memoized in ``cache`` against the documents
    table, so parity sweeps and repeated pipeline use run the iteration
    once. The cached DataFrame re-reads its reliable-checkpoint files on
    reuse (cheap, deterministic)."""
    return cache.get(
        spark, sf_dir, "cc_labels",
        lambda: connected_components(dedup_minhash_lsh_pairs(spark, sf_dir)),
        ("documents",),
    )


def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters: iterative hash-min connected components over the
    MinHash-LSH candidate edges, yielding one canonical keeper per
    near-duplicate group. The Spark side is the distributed hash-min
    fixed point (operators/graph.py); the oracle expresses the same fixed
    point as a DuckDB recursive CTE (transitive closure → min reachable
    id), so the iterative algorithm is hash-checked end-to-end, not just
    rows-only."""
    return (
        _cc_labels(spark, sf_dir)
        .groupBy("component_id")
        .agg(
            F.sort_array(F.collect_list("node_id"))
            .cast("string")
            .alias("members"),
            F.min("node_id").alias("keeper_doc_id"),
            F.count("*").alias("cluster_size"),
        )
        .select("component_id", "members", "keeper_doc_id", "cluster_size")
    )


# Oracle: connected components as transitive closure. ``reach`` grows the
# (node, reachable-node) set to the fixed point (UNION dedups, clusters are
# tiny so closure is cheap); component id = min reachable id — identical to
# the hash-min label the Spark side converges to. Members rendered exactly
# like Spark's array<bigint> → string cast ("[1, 2, 3]").
DEDUP_CLUSTER_COMPONENTS_SQL = f"""
    WITH RECURSIVE
    edges AS (SELECT a_id, b_id FROM ({DEDUP_MINHASH_LSH_PAIRS_SQL})),
    sym AS (
        SELECT a_id AS u, b_id AS v FROM edges
        UNION
        SELECT b_id AS u, a_id AS v FROM edges
    ),
    reach(node_id, lbl) AS (
        SELECT u, u FROM sym
        UNION
        SELECT s.u, r.lbl FROM sym s JOIN reach r ON s.v = r.node_id
    ),
    labels AS (
        SELECT node_id, MIN(lbl) AS component_id FROM reach GROUP BY node_id
    )
    SELECT component_id,
           CAST(list_sort(list(node_id)) AS VARCHAR) AS members,
           MIN(node_id) AS keeper_doc_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM labels
    GROUP BY component_id
"""


def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-size distribution of the near-dup components — the
    one-line health report of a dedup run (a fat head of giant clusters
    means boilerplate or a broken hash; mostly size-2 means honest
    near-dups): (cluster_size, n_clusters, n_docs, docs_ppm). Reuses the
    memoized CC labels; the histogram itself is two tiny aggregates."""
    sizes = (
        _cc_labels(spark, sf_dir)
        .groupBy("component_id")
        .agg(F.count("*").cast("bigint").alias("cluster_size"))
    )
    total = sizes.agg(
        F.sum("cluster_size").cast("bigint").alias("total_docs")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("bigint").alias("n_clusters"))
        .crossJoin(F.broadcast(total))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
            F.expr(
                "CAST((cluster_size * n_clusters * 1000000)"
                " DIV total_docs AS BIGINT)"
            ).alias("docs_ppm"),
        )
        .orderBy("cluster_size")
    )


DEDUP_CLUSTER_SIZE_HISTOGRAM_SQL = f"""
    WITH comps AS ({DEDUP_CLUSTER_COMPONENTS_SQL}),
    sizes AS (SELECT component_id, cluster_size FROM comps),
    tot AS (SELECT SUM(cluster_size) AS total_docs FROM sizes)
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((cluster_size * COUNT(*) * 1000000) // MAX(tot.total_docs)
                AS BIGINT) AS docs_ppm
    FROM sizes CROSS JOIN tot
    GROUP BY cluster_size
    ORDER BY cluster_size
"""


def pipeline_dedup_lsh_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the MinHash-LSH near-dup clusters BACK to the corpus — the
    step that actually shrinks the training set: every cluster member
    except the min-id keeper is dropped, unclustered docs pass through,
    and the result is per-source kept/dropped accounting over the full
    documents table (pairs → clusters → materialized deduped corpus, the
    complete Lee-et-al. loop).

    Scale posture: the final pass is one left join keyed by uniform
    doc_id against a single documents scan. The drop set is the
    clustered-node label relation — on the fixtures it is tiny and AQE
    broadcasts it, but at web scale near-dup drops can be 30-50% of the
    corpus, so the join must (and does) degrade to a shuffled hash join
    on the uniform key rather than assuming broadcastability. The CC
    fixed point itself is the bounded-shuffle hash-min iteration
    (operators/graph.py), shared with dedup_cluster_components via the
    _cc_labels memo."""
    drops = (
        _cc_labels(spark, sf_dir)
        .filter(F.col("node_id") != F.col("component_id"))
        .select(F.col("node_id").alias("doc_id"), F.lit(1).alias("dropped"))
    )
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.join(drops, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("dropped"), F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
            (F.count("*") - F.sum(F.coalesce(F.col("dropped"), F.lit(0))))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(
                F.when(F.col("dropped").isNull(), F.col("n_chars")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


PIPELINE_DEDUP_LSH_APPLY_SQL = f"""
    WITH RECURSIVE
    edges AS (SELECT a_id, b_id FROM ({DEDUP_MINHASH_LSH_PAIRS_SQL})),
    sym AS (
        SELECT a_id AS u, b_id AS v FROM edges
        UNION
        SELECT b_id AS u, a_id AS v FROM edges
    ),
    reach(node_id, lbl) AS (
        SELECT u, u FROM sym
        UNION
        SELECT s.u, r.lbl FROM sym s JOIN reach r ON s.v = r.node_id
    ),
    labels AS (
        SELECT node_id, MIN(lbl) AS component_id FROM reach GROUP BY node_id
    ),
    drops AS (
        SELECT node_id AS doc_id, 1 AS dropped
        FROM labels WHERE node_id != component_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(dropped, 0)) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - SUM(COALESCE(dropped, 0)) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN dropped IS NULL THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM documents LEFT JOIN drops USING (doc_id)
    GROUP BY source
    ORDER BY source
"""


def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl exact dedup: a NEW batch (every 10th doc stands
    in for the fresh crawl) deduped against the HISTORICAL corpus (the
    rest) by content hash, plus within-batch dedup keeping the min
    doc_id — the production shape where yesterday's corpus is a seen-hash
    set and only novel content survives.

    Scale posture: the historical side reduces to DISTINCT 60-bit
    content hashes before the anti-join (at production scale this
    relation is the persisted seen-hash table, not a rescan); both the
    distinct and the anti-join shuffle on the uniform content hash. No
    driver-side state."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast(
        "bigint"
    )
    hashed = docs.select("doc_id", "source", "n_chars", h.alias("text_h"))
    batch = hashed.filter(F.col("doc_id") % 10 == 0)
    seen = (
        hashed.filter(F.col("doc_id") % 10 != 0).select("text_h").distinct()
    )
    novel = batch.join(seen, "text_h", "left_anti")
    # within-batch min-id dedup as ONE aggregation (min over a struct
    # ordered by doc_id) instead of groupBy + join-back: one fewer join,
    # and when the seen side is too big to broadcast (production scale)
    # the shuffled anti-join leaves `novel` partitioned by text_h, so
    # this groupBy adds no exchange at all
    kept = novel.groupBy("text_h").agg(
        F.min(F.struct("doc_id", "source", "n_chars")).alias("s")
    )
    return kept.select(
        F.col("s.doc_id").alias("doc_id"),
        F.col("s.source").alias("source"),
        F.col("s.n_chars").alias("n_chars"),
        "text_h",
    ).orderBy("doc_id")


DEDUP_INCREMENTAL_EXACT_SQL = """
    WITH hashed AS (
        SELECT doc_id, source, n_chars,
               CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS text_h
        FROM documents
    ),
    batch AS (SELECT * FROM hashed WHERE doc_id % 10 = 0),
    seen AS (
        SELECT DISTINCT text_h FROM hashed WHERE doc_id % 10 != 0
    ),
    novel AS (
        SELECT b.* FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.text_h = b.text_h)
    )
    SELECT n.doc_id, n.source, n.n_chars, n.text_h
    FROM novel n
    JOIN (SELECT text_h, MIN(doc_id) AS doc_id
          FROM novel GROUP BY text_h) k
      ON n.text_h = k.text_h AND n.doc_id = k.doc_id
    ORDER BY n.doc_id
"""


FUZZY_LEV_MAX = 2        # edit-distance match radius
FUZZY_SN_WINDOW = 4      # sorted-neighborhood comparison window


def _fuzzy_name_sql(dialect: str) -> str:
    """Fuzzy entity resolution over customer names: the corpus is the
    customer dim plus PLANTED typos (every 25th customer re-appears at
    key + 1e6 with one character dropped from the name); matcher = pairs
    within edit distance {FUZZY_LEV_MAX}.

    The pair space uses BOTH classic ER reductions: BLOCKING on
    nationkey (same-entity records share it by construction), and the
    SORTED-NEIGHBORHOOD method within each block — entities sort by a
    similarity-preserving key (the digit suffix, which a typo anywhere
    else in the name preserves) and only rank-neighbors within
    {FUZZY_SN_WINDOW} positions are compared. That makes levenshtein
    cost LINEAR in block size (|block|·W, vs |block|²/2 all-pairs —
    measured 30× on sf0.1 where TPC-H's near-collision names make
    every same-block pair a candidate). The neighbor join is an
    equi-join on (block, rank + k), k exploded 1..W — no theta join.

    levenshtein() is exact and identical in both engines, so the fuzzy
    tier is hash-checked like everything else."""
    if dialect == "spark":
        typo = ("concat(substring(c_name, 1, 8), "
                "substring(c_name, 10, 100))")
        sortkey = "substring(name, length(name) - 8, 9)"
        kgen = (f"LATERAL VIEW explode(sequence(1, {FUZZY_SN_WINDOW}))"
                " AS k")
    else:
        typo = "substr(c_name, 1, 8) || substr(c_name, 10, 100)"
        sortkey = "substr(name, length(name) - 8, 9)"
        kgen = f", unnest(range(1, {FUZZY_SN_WINDOW + 1})) AS t(k)"
    return f"""
        WITH ents AS (
            SELECT c_custkey AS ent_id, c_name AS name,
                   c_nationkey AS block
            FROM customer
            UNION ALL
            SELECT c_custkey + 1000000 AS ent_id, {typo} AS name,
                   c_nationkey AS block
            FROM customer WHERE c_custkey % 25 = 0
        ),
        ranked AS (
            SELECT ent_id, name, block,
                   ROW_NUMBER() OVER (
                       PARTITION BY block
                       ORDER BY {sortkey}, name, ent_id) AS r
            FROM ents
        ),
        probes AS (SELECT ent_id, name, block, r + k AS rr
                   FROM ranked {kgen})
        SELECT LEAST(p.ent_id, b.ent_id) AS a_id,
               GREATEST(p.ent_id, b.ent_id) AS b_id,
               CAST(levenshtein(p.name, b.name) AS INTEGER) AS distance
        FROM probes p JOIN ranked b
          ON p.block = b.block AND p.rr = b.r
        WHERE levenshtein(p.name, b.name) <= {FUZZY_LEV_MAX}
        ORDER BY a_id, b_id
    """


def dedup_fuzzy_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance entity resolution — see _fuzzy_name_sql.
    Complements the token-level dedup tiers with the CHARACTER-level
    matcher record linkage needs (typos survive exact and shingle
    hashing: a dropped character shifts every downstream trigram).

    Scale posture: levenshtein is evaluated ONLY inside nationkey
    blocks (Σ|block|² pairs); at production the block key is coarser
    (name length band + phonetic key) with the same plan shape. TPC-H
    names are near-collisions by construction ('Customer#000000xyz'),
    so the planted typo pairs arrive amid realistic digit-distance
    noise — the matcher must rank, not just detect."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_fuzzy_name_sql("spark"))


DEDUP_FUZZY_NAME_SQL = _fuzzy_name_sql("duck")


BLOOM_M_BITS = 1 << 16   # filter size; at production seen-set sizes this
#                          scales to 2^30+ — the layout below (bit_or over
#                          64-bit words) is size-agnostic
BLOOM_WORDS = BLOOM_M_BITS // 62 + 1


def _bloom_sql(engine: str) -> str:
    """Explicit Bloom-filter prefilter for incremental dedup — the fast
    path in front of dedup_incremental_exact's seen-hash anti-join:

    - BUILD: the historical corpus's distinct content hashes set 3 bits
      each (three disjoint 16-bit fields of the 60-bit md5 — independent
      and deterministic); the filter is a ≤{BLOOM_WORDS}-row
      (word_idx, bit_or(mask)) relation (62 usable bits per
      word — DuckDB checks BIGINT shifts, so bit 63 is never used) — the bitmap form that makes
      Bloom filters mergeable across shards/days (OR the words) and
      broadcastable to every executor;
    - PROBE: each new-batch doc checks its 3 bits against the broadcast
      words; `bloom_maybe` = all 3 set. Only maybe-docs need the exact
      seen-set membership check (at scale: the shuffle the filter
      exists to skip); definite-new docs bypass it entirely.

    Output per new doc: (doc_id, bloom_maybe, is_dup) — is_dup ⇒
    bloom_maybe (no false negatives, pinned in tests), and
    maybe ∧ ¬dup rows are the false positives the m/n sizing controls."""
    if engine == "spark":
        ch = ("CAST(conv(substring(md5(text), 1, 15), 16, 10)"
              " AS BIGINT)")
        one = "shiftleft(CAST(1 AS BIGINT), CAST(b % 62 AS INT))"
        bexp = (f"LATERAL VIEW explode(array(ch % {BLOOM_M_BITS},"
                f" (ch DIV 1048576) % {BLOOM_M_BITS},"
                f" (ch DIV 1099511627776) % {BLOOM_M_BITS})) AS b")
        intdiv = "DIV"
    else:
        ch = "CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)"
        one = "(CAST(1 AS BIGINT) << CAST(b % 62 AS INT))"
        bexp = (f", unnest([ch % {BLOOM_M_BITS},"
                f" (ch // 1048576) % {BLOOM_M_BITS},"
                f" (ch // 1099511627776) % {BLOOM_M_BITS}]) AS t(b)")
        intdiv = "//"
    return f"""
        WITH hashes AS (SELECT doc_id, {ch} AS ch FROM documents),
        hist AS (
            SELECT DISTINCT ch FROM hashes WHERE doc_id % 10 != 0
        ),
        hist_bits AS (SELECT b FROM hist {bexp}),
        bloom AS (
            SELECT b {intdiv} 62 AS w, BIT_OR({one}) AS word
            FROM hist_bits GROUP BY b {intdiv} 62
        ),
        probe_bits AS (
            SELECT doc_id, ch, b FROM (
                SELECT doc_id, ch FROM hashes WHERE doc_id % 10 = 0
            ) newb {bexp}
        ),
        probed AS (
            SELECT p.doc_id, p.ch,
                   SUM(CASE WHEN bl.word IS NOT NULL
                             AND (bl.word & {one.replace('b %', 'p.b %')})
                                 != 0
                            THEN 1 ELSE 0 END) AS hits
            FROM probe_bits p
            LEFT JOIN bloom bl ON bl.w = p.b {intdiv} 62
            GROUP BY p.doc_id, p.ch
        )
        SELECT pr.doc_id,
               (pr.hits = 3) AS bloom_maybe,
               (h.ch IS NOT NULL) AS is_dup
        FROM probed pr
        LEFT JOIN hist h ON h.ch = pr.ch
        ORDER BY pr.doc_id
    """


def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter membership prefilter — see _bloom_sql. The
    EXPLICIT sibling of join_runtime_bloom_filter (which uses Spark's
    opaque BloomFilterMightContain): the construction itself is the
    operator, as a bit_or word aggregate that is exactly
    oracle-mirrorable and mergeable (the agg_hll_sketch_explicit
    discipline applied to membership).

    Scale posture: one corpus scan → distinct hashes (the persisted
    seen-set at production), 3-bit explode → ≤{BLOOM_WORDS}-word
    aggregate (uniform keys, map-side combined), and the probe joins a
    broadcast word relation — no corpus shuffle for the definite-new
    majority; the exact verify join here runs on ALL probes only to
    expose false positives in the compared output."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_bloom_sql("spark"))


DEDUP_BLOOM_PREFILTER_SQL = _bloom_sql("duck")


# ---------------------------------------------------------------------------
# URL-canonicalization dedup (crawl-pipeline tier)
# ---------------------------------------------------------------------------

def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup — the FIRST dedup pass of a web-crawl pipeline
    (before any content hashing): canonicalize scheme/host case, strip
    ``www.``, query strings, fragments, and trailing slashes, then keep
    one doc per canonical URL (min doc_id).

    URLs are synthesized deterministically from the fixture (the corpus
    has no URL column): mixed-case host, UTM query noise, fragments and
    trailing slashes appear on doc_id-derived subsets, and the path key
    is doc_id % 100 so real collisions exist. Canonicalization is pure
    string expressions — narrow map fused into the scan; the dedup
    groupBy shuffles on the canonical string (uniform, md5-like spread
    over hosts×paths). At crawl scale this is the cheapest multi-TB
    reducer there is: one shuffle, no similarity math."""
    docs = load_table(spark, sf_dir, "documents")
    scheme_host = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(F.lit("HTTPS://WWW."), F.upper(F.col("source")), F.lit(".Example.COM")),
    ).otherwise(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com"))
    )
    path = F.concat(F.lit("/articles/"), (F.col("doc_id") % 100).cast("string"))
    url = F.concat(
        scheme_host,
        path,
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=feed&ref=x")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#section2")).otherwise(F.lit("")),
    )
    with_url = docs.select("doc_id", url.alias("raw_url"))
    no_junk = F.split_part(F.split_part(F.col("raw_url"), F.lit("#"), F.lit(1)), F.lit("?"), F.lit(1))
    host_lower = F.concat(
        F.lower(F.regexp_extract(no_junk, "^([^/]*//[^/]*)", 1)),
        F.regexp_replace(no_junk, "^[^/]*//[^/]*", ""),
    )
    canonical = F.regexp_replace(
        F.regexp_replace(host_lower, "://www\\.", "://"), "/+$", ""
    )
    return (
        with_url.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("canonical_url")
    )


DEDUP_URL_CANONICAL_SQL = r"""
    WITH raw AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 1
                     THEN 'HTTPS://WWW.' || upper(source) || '.Example.COM'
                     ELSE 'https://' || source || '.example.com' END)
               || '/articles/' || CAST(doc_id % 100 AS VARCHAR)
               || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
               || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=x' ELSE '' END)
               || (CASE WHEN doc_id % 7 = 0 THEN '#section2' ELSE '' END) AS raw_url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       lower(regexp_extract(no_junk, '^([^/]*//[^/]*)', 1))
                           || regexp_replace(no_junk, '^[^/]*//[^/]*', ''),
                       '://www\.', '://'),
                   '/+$', '') AS canonical_url
        FROM (SELECT doc_id,
                     split_part(split_part(raw_url, '#', 1), '?', 1) AS no_junk
              FROM raw)
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keeper_doc_id
    FROM canon
    GROUP BY canonical_url
    ORDER BY canonical_url
"""


# ---------------------------------------------------------------------------
# exact-substring duplicated spans (suffix-array-style, windowed)
# ---------------------------------------------------------------------------

WINDOW_TOKENS = TUNING.substr_window_tokens  # ExactSubstr span unit


def _substring_spans_body(dialect: str, wins_src: str) -> str:
    """Shared WITH-chain from a (doc_id, pos, wh) windows relation to the
    per-document duplicated-span report. Pure integer arithmetic after the
    md5 window hash, so both engines agree bit-for-bit."""
    intdiv = "div" if dialect == "spark" else "//"
    return f"""
        WITH wins AS ({wins_src}),
        dup_hashes AS (
            -- "≥2 distinct doc_ids" as MIN != MAX: same predicate, no
            -- distinct-aggregate expand (one partial-aggregated pass)
            SELECT wh FROM wins GROUP BY wh HAVING MIN(doc_id) != MAX(doc_id)
        ),
        dup_pos AS (
            SELECT doc_id, pos FROM wins WHERE wh IN (SELECT wh FROM dup_hashes)
        ),
        runs AS (
            SELECT doc_id, COUNT(*) AS run_len FROM (
                SELECT doc_id, pos,
                       pos - ROW_NUMBER() OVER (
                           PARTITION BY doc_id ORDER BY pos) AS grp
                FROM dup_pos
            ) GROUP BY doc_id, grp
        ),
        dupagg AS (
            SELECT doc_id, SUM(run_len) AS n_dup, MAX(run_len) AS max_run
            FROM runs GROUP BY doc_id
        ),
        totals AS (SELECT doc_id, COUNT(*) AS n_windows FROM wins GROUP BY doc_id)
        SELECT t.doc_id,
               CAST(t.n_windows AS BIGINT) AS n_windows,
               CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_windows,
               CAST(COALESCE(d.max_run + {WINDOW_TOKENS - 1}, 0) AS BIGINT)
                   AS longest_dup_tokens,
               CAST((1000000 * COALESCE(d.n_dup, 0)) {intdiv} t.n_windows
                   AS BIGINT) AS dup_ppm
        FROM totals t LEFT JOIN dupagg d ON t.doc_id = d.doc_id
        ORDER BY t.doc_id
    """


def _window_arr_view(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (doc_id, whs: array<60-bit-window-hash>) once.

    Same discipline as ``_shingled_view``: without the barrier, Catalyst
    fuses the window-array construction into the downstream Generate and
    re-evaluates the whole transform per exploded row.

    The window hash is the repo's standard md5→BIGINT truncation
    (sampleops ``_hash60``): 8-byte integer keys instead of 32-char hex
    strings make the barrier arrays 4× smaller and the dup-group shuffle
    hash/compare integer-cheap. 60 bits is collision-safe here the same
    way it is for sampling — and DETERMINISTIC: both engines truncate the
    same md5, so even a collision yields identical results."""
    _register_docs(spark, sf_dir)
    w = WINDOW_TOKENS

    def build():
        return spark.sql(f"""
            WITH corpus AS ({_planted_corpus('spark')}),
            toks AS (SELECT doc_id, split(text, ' ') AS t FROM corpus)
            SELECT doc_id,
                   CASE WHEN size(t) >= {w} THEN
                     transform(sequence(1, size(t) - {w - 1}),
                               i -> CAST(CONV(substring(
                                        md5(concat_ws(' ', slice(t, i, {w}))),
                                        1, 15), 16, 10) AS BIGINT))
                   ELSE array() END AS whs
            FROM toks
        """)

    return cached_barrier_view(spark, sf_dir, "subwin_mat", build)


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicated spans, the windowed formulation of
    suffix-array ExactSubstr dedup (Lee et al. §4.1): hash every 8-token
    sliding window, keep hashes seen in ≥2 distinct documents, and report
    per-document duplicated-window count, longest consecutive duplicated
    run (in tokens — gap-and-island over window positions), and duplicated
    parts-per-million. Runs over the planted corpus so true cross-document
    duplicate spans exist.

    Scale posture: a suffix array is a single-machine construct; the
    distributed equivalent is exactly this — one explode (windows), one
    shuffle keyed by window hash (uniform md5 spread, skew-free), one
    per-document window pass. Window arrays are materialized once behind a
    barrier so the transform isn't re-evaluated per exploded row. Covers
    /root/reference's content-hash dedup intent (src/main.rs change-stream
    fullDocument digest) at sub-document granularity."""
    view = _window_arr_view(spark, sf_dir)
    wins_src = f"""
        SELECT doc_id, pos0 + 1 AS pos, wh
        FROM {view} LATERAL VIEW posexplode(whs) x AS pos0, wh
    """
    return spark.sql(_substring_spans_body("spark", wins_src))


DEDUP_SUBSTRING_SPANS_SQL = _substring_spans_body(
    "duck",
    f"""
    SELECT doc_id, i AS pos,
           CAST(('0x' || substr(md5(array_to_string(t[i:i+{WINDOW_TOKENS - 1}], ' ')), 1, 15))
                AS BIGINT) AS wh
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {WINDOW_TOKENS - 1})) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS t
                FROM ({_planted_corpus('duck')}))
          WHERE len(t) >= {WINDOW_TOKENS})
    """,
)


# ---------------------------------------------------------------------------
# dedup_rate_by_source — which providers ship the duplicates
# ---------------------------------------------------------------------------


def _rate_by_source_tail(corpus_rel: str, labels_rel: str,
                         intdiv: str) -> str:
    """Shared tail: per-source duplicate-removal accounting under the
    min-id-keeps policy over the near-dup components — the
    which-provider-ships-the-duplicates report a crawl team reads
    before renegotiating a feed (a domain with a high removal rate is
    re-crawling or mirroring). Unlabeled docs are singletons (kept)."""
    return f"""
        WITH attributed AS (
            SELECT c.source,
                   CASE WHEN l.component_id IS NULL THEN 1
                        WHEN c.doc_id = l.component_id THEN 1
                        ELSE 0 END AS kept
            FROM {corpus_rel} c
            LEFT JOIN {labels_rel} l ON l.node_id = c.doc_id
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(1 - kept) AS BIGINT) AS n_removed,
               CAST(SUM(1 - kept) * 1000000 {intdiv} COUNT(*) AS BIGINT)
                   AS removal_ppm
        FROM attributed
        GROUP BY source
        ORDER BY removal_ppm DESC, source
    """


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup removal rates — see _rate_by_source_tail.
    Composes the memoized CC labels (LSH + hash-min iteration, one run
    per session) with one source-keyed aggregate."""
    _register_docs(spark, sf_dir)
    _cc_labels(spark, sf_dir).createOrReplaceTempView("rate_cc_labels")
    spark.sql(
        f"SELECT doc_id, source FROM ({_planted_corpus('spark')}) pc"
    ).createOrReplaceTempView("rate_corpus")
    return spark.sql(
        _rate_by_source_tail("rate_corpus", "rate_cc_labels", "DIV")
    )


def _rate_by_source_oracle() -> str:
    labels = f"""
        WITH RECURSIVE
        edges AS (SELECT a_id, b_id FROM ({DEDUP_MINHASH_LSH_PAIRS_SQL})),
        sym AS (
            SELECT a_id AS u, b_id AS v FROM edges
            UNION
            SELECT b_id AS u, a_id AS v FROM edges
        ),
        reach(node_id, lbl) AS (
            SELECT u, u FROM sym
            UNION
            SELECT s.u, r.lbl FROM sym s JOIN reach r ON s.v = r.node_id
        )
        SELECT node_id, MIN(lbl) AS component_id FROM reach GROUP BY node_id
    """
    return (
        f"WITH cc_labels AS MATERIALIZED ({labels}), "
        f"rate_corpus AS (SELECT doc_id, source FROM"
        f" ({_planted_corpus('duck')}) pc), "
        + _rate_by_source_tail(
            "rate_corpus", "cc_labels", "//"
        ).strip()[len("WITH"):]
    )


DEDUP_RATE_BY_SOURCE_SQL = _rate_by_source_oracle()


# ---------------------------------------------------------------------------
# dedup_substring_apply — ExactSubstr REMOVAL (the apply half of spans)
# ---------------------------------------------------------------------------


def _substring_apply_body(dialect: str, wins_src: str, toks_src: str) -> str:
    """Engine-shared ExactSubstr removal (Lee et al. §4.1 apply step):
    every {WINDOW_TOKENS}-token window duplicated ACROSS documents is
    excised from every document except the window hash's owner (the
    min-doc_id first occurrence keeps its text intact — cross-document
    dedup, not within-document compression). Removal positions expand
    window→token coverage by a constant {WINDOW_TOKENS}-way fan-out;
    the rebuilt text is reported as md5 over the kept tokens in
    position order plus before/after token accounting, so the oracle
    hash-checks the actual surviving text byte-for-byte."""
    intdiv = "DIV" if dialect == "spark" else "//"
    if dialect == "spark":
        gen_k = (f"LATERAL VIEW explode(sequence(0, {WINDOW_TOKENS - 1}))"
                 " AS k")
        rebuild = ("md5(concat_ws(' ', transform(array_sort("
                   "collect_list(CASE WHEN rm.doc_id IS NULL THEN"
                   " struct(t.pos, t.tok) END)), s -> s.tok)))")
    else:
        gen_k = f", unnest(range(0, {WINDOW_TOKENS})) AS kk(k)"
        rebuild = ("md5(coalesce(string_agg(CASE WHEN rm.doc_id IS NULL"
                   " THEN t.tok END, ' ' ORDER BY t.pos), ''))")
    return f"""
        WITH wins AS ({wins_src}),
        owners AS (
            SELECT wh, MIN(doc_id) AS owner_doc
            FROM wins GROUP BY wh HAVING MIN(doc_id) != MAX(doc_id)
        ),
        removal_wins AS (
            SELECT w.doc_id, w.pos
            FROM wins w JOIN owners o
              ON o.wh = w.wh AND w.doc_id != o.owner_doc
        ),
        removed AS (
            SELECT DISTINCT doc_id, pos + k AS pos
            FROM removal_wins {gen_k}
        ),
        toks AS ({toks_src})
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens_before,
               CAST(SUM(CASE WHEN rm.doc_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_tokens_after,
               CAST(SUM(CASE WHEN rm.doc_id IS NULL THEN 0 ELSE 1 END)
                    * 1000000 {intdiv} COUNT(*) AS BIGINT) AS removed_ppm,
               {rebuild} AS cleaned_md5
        FROM toks t
        LEFT JOIN removed rm
          ON rm.doc_id = t.doc_id AND rm.pos = t.pos
        GROUP BY t.doc_id
        ORDER BY t.doc_id
    """


def dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicated-span REMOVAL — see _substring_apply_body.

    Scale posture: windows come off the same memoized window-hash array
    barrier as ``dedup_substring_spans`` (one corpus transform per
    session); the owner aggregate and removal semi-join are keyed by
    the uniform 60-bit window hash; coverage expansion is a constant
    {WINDOW_TOKENS}-way fan-out of only the REMOVAL windows; the
    rebuild is ONE pass over the positional token relation (counts and
    the ordered md5 in the same doc-keyed aggregate)."""
    wview = _window_arr_view(spark, sf_dir)
    # posexplode is 0-based; window positions elsewhere are 1-based
    wins = f"""
        SELECT doc_id, pos0 + 1 AS pos, wh FROM (
            SELECT doc_id, posexplode(whs) AS (pos0, wh) FROM {wview}
        ) x
    """
    toks = f"""
        SELECT doc_id, pos0 + 1 AS pos, tok FROM (
            SELECT doc_id, posexplode(split(text, ' ')) AS (pos0, tok)
            FROM (SELECT doc_id, text FROM ({_planted_corpus('spark')}))
        ) y
    """
    return spark.sql(_substring_apply_body("spark", wins, toks))


DEDUP_SUBSTRING_APPLY_SQL = _substring_apply_body(
    "duck",
    f"""
    SELECT doc_id, i AS pos,
           CAST(('0x' || substr(md5(array_to_string(t[i:i+{WINDOW_TOKENS - 1}], ' ')), 1, 15))
                AS BIGINT) AS wh
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {WINDOW_TOKENS - 1})) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS t
                FROM ({_planted_corpus('duck')}))
          WHERE len(t) >= {WINDOW_TOKENS})
    """,
    f"""
    SELECT doc_id, i AS pos, t[i] AS tok
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS t
                FROM ({_planted_corpus('duck')})))
    """,
)


# ---------------------------------------------------------------------------
# pipeline_dedup_cascade — tiered dedup attribution (which tier removes what)
# ---------------------------------------------------------------------------


def _cascade_body(sha_expr: str, labels_rel: str) -> str:
    """Engine-shared sequential cascade: tier 1 exact-content, tier 2
    canonical-URL among tier-1 survivors, tier 3 near-dup component
    among tier-2 survivors — each doc attributed to the FIRST tier that
    removes it (min-doc_id keeps at every tier). The which-tier-does-
    the-work report a dedup pipeline reviews before paying for the next,
    more expensive tier (the cheap tiers should eat most duplicates).

    Plan shape (round 8): the survivor chain is carried as FLAGS on one
    relation (kept1/kept2/kept3 via conditional MIN-windows) instead of
    filtered sub-relations, and the 4-tier report unpivots the single
    counts row against a literal tier table — the earlier
    subquery-per-tier accounting referenced the chain from four scalar
    subqueries and Catalyst re-expanded it into SEVEN corpus scans;
    this form plans exactly one."""
    canonical = """
        regexp_replace(
            regexp_replace(
                lower(regexp_extract(no_junk, '^([^/]*//[^/]*)', 1))
                    || regexp_replace(no_junk, '^[^/]*//[^/]*', ''),
                '://www\\.', '://'),
            '/+$', '')
    """
    raw_url = """
        (CASE WHEN doc_id % 2 = 1
              THEN 'HTTPS://WWW.' || upper(source) || '.Example.COM'
              ELSE 'https://' || source || '.example.com' END)
        || '/articles/' || CAST(doc_id % 100 AS STRING)
        || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
        || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=x' ELSE '' END)
        || (CASE WHEN doc_id % 7 = 0 THEN '#section2' ELSE '' END)
    """
    return f"""
        WITH base AS (
            SELECT doc_id, {sha_expr} AS h,
                   {canonical} AS canonical_url
            FROM (SELECT doc_id, text, source,
                         split_part(split_part({raw_url}, '#', 1), '?', 1)
                             AS no_junk
                  FROM documents)
        ),
        f1 AS (
            SELECT doc_id, canonical_url,
                   CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY h)
                        THEN 1 ELSE 0 END AS kept1
            FROM base
        ),
        f2 AS (
            SELECT doc_id, kept1,
                   CASE WHEN kept1 = 1 AND doc_id =
                            MIN(CASE WHEN kept1 = 1 THEN doc_id END)
                                OVER (PARTITION BY canonical_url)
                        THEN 1 ELSE 0 END AS kept2
            FROM f1
        ),
        f3 AS (
            SELECT f2.doc_id, kept1, kept2,
                   CASE WHEN kept2 = 1 AND f2.doc_id =
                            MIN(CASE WHEN kept2 = 1 THEN f2.doc_id END)
                                OVER (PARTITION BY
                                      COALESCE(l.component_id, f2.doc_id))
                        THEN 1 ELSE 0 END AS kept3
            FROM f2 LEFT JOIN {labels_rel} l ON l.node_id = f2.doc_id
        ),
        counts AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n0,
                   CAST(SUM(kept1) AS BIGINT) AS n1,
                   CAST(SUM(kept2) AS BIGINT) AS n2,
                   CAST(SUM(kept3) AS BIGINT) AS n3
            FROM f3
        )
        SELECT t.tier, t.tier_name,
               CASE t.tier WHEN 0 THEN CAST(0 AS BIGINT)
                           WHEN 1 THEN n0 - n1
                           WHEN 2 THEN n1 - n2
                           ELSE n2 - n3 END AS n_removed,
               CASE t.tier WHEN 0 THEN n0
                           WHEN 1 THEN n1
                           WHEN 2 THEN n2
                           ELSE n3 END AS n_remaining
        FROM counts
        CROSS JOIN (VALUES (0, 'input'), (1, 'exact_content'),
                           (2, 'canonical_url'), (3, 'near_dup_component'))
                   AS t(tier, tier_name)
        ORDER BY t.tier
    """


def pipeline_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See _cascade_body. Scale posture: tier 1-2 are hash-partitioned
    windows over bounded groups (content hash / canonical URL); tier 3
    reuses the memoized CC labels (the LSH + hash-min iteration runs
    once per session); the accounting is four scalar counts over the
    survivor chain — Spark shares the chain's scan via the WITH, and
    every tier's shuffle key is uniform. This is the production
    cheapest-tier-first dedup ordering with its audit trail."""
    _register_docs(spark, sf_dir)
    _cc_labels(spark, sf_dir).createOrReplaceTempView("cascade_cc_labels")
    return spark.sql(_cascade_body("sha2(text, 256)", "cascade_cc_labels"))


def _cascade_oracle() -> str:
    labels = f"""
        WITH RECURSIVE
        edges AS (SELECT a_id, b_id FROM ({DEDUP_MINHASH_LSH_PAIRS_SQL})),
        sym AS (
            SELECT a_id AS u, b_id AS v FROM edges
            UNION
            SELECT b_id AS u, a_id AS v FROM edges
        ),
        reach(node_id, lbl) AS (
            SELECT u, u FROM sym
            UNION
            SELECT s.u, r.lbl FROM sym s JOIN reach r ON s.v = r.node_id
        )
        SELECT node_id, MIN(lbl) AS component_id FROM reach GROUP BY node_id
    """
    body = _cascade_body("sha256(text)", "cc_labels")
    return (
        f"WITH cc_labels AS ({labels}), "
        + body.strip()[len("WITH"):]
    )


PIPELINE_DEDUP_CASCADE_SQL = _cascade_oracle()


QUERIES: dict[str, tuple] = {
    "pipeline_dedup_cascade": (
        pipeline_dedup_cascade,
        PIPELINE_DEDUP_CASCADE_SQL,
    ),
    "dedup_cluster_components": (dedup_cluster_components, DEDUP_CLUSTER_COMPONENTS_SQL),
    "dedup_minhash_approx": (dedup_minhash_approx, DEDUP_MINHASH_APPROX_SQL),
    "dedup_minhash_lsh_pairs": (dedup_minhash_lsh_pairs, DEDUP_MINHASH_LSH_PAIRS_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_simhash_pairs": (dedup_simhash_pairs, DEDUP_SIMHASH_PAIRS_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL),
    "dedup_url_canonical": (dedup_url_canonical, DEDUP_URL_CANONICAL_SQL),
    "dedup_substring_spans": (dedup_substring_spans, DEDUP_SUBSTRING_SPANS_SQL),
    "dedup_substring_apply": (dedup_substring_apply, DEDUP_SUBSTRING_APPLY_SQL),
    "dedup_rate_by_source": (dedup_rate_by_source, DEDUP_RATE_BY_SOURCE_SQL),
    "pipeline_dedup_lsh_apply": (
        pipeline_dedup_lsh_apply,
        PIPELINE_DEDUP_LSH_APPLY_SQL,
    ),
    "dedup_incremental_minhash": (
        dedup_incremental_minhash,
        DEDUP_INCREMENTAL_MINHASH_SQL,
    ),
    "stream_minhash_index_upsert": (
        stream_minhash_index_upsert,
        STREAM_MINHASH_INDEX_UPSERT_SQL,
    ),
    "dedup_minhash_index_upsert": (
        dedup_minhash_index_upsert,
        DEDUP_MINHASH_INDEX_UPSERT_SQL,
    ),
    "dedup_bloom_prefilter": (
        dedup_bloom_prefilter,
        DEDUP_BLOOM_PREFILTER_SQL,
    ),
    "dedup_fuzzy_name": (dedup_fuzzy_name, DEDUP_FUZZY_NAME_SQL),
    "dedup_cluster_size_histogram": (
        dedup_cluster_size_histogram,
        DEDUP_CLUSTER_SIZE_HISTOGRAM_SQL,
    ),
    "dedup_incremental_exact": (
        dedup_incremental_exact,
        DEDUP_INCREMENTAL_EXACT_SQL,
    ),
}
