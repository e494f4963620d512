"""Corpus-size-derived tuning knobs (round 10; VERDICT r9 item 1).

At FIXED LSH/IVF/clustering knobs, bucket occupancy grows ~n/2^bits
(or ~n/K), so bucket-pair work grows ~n²/2^bits until the per-bucket
guard caps engage — the sf0.5/sf1 rehearsals measured 9–29× runtime at
5–10× rows for the four relational exhibit forms. Production systems
derive these knobs from corpus statistics at index-build time (FAISS
picks K ≈ √n inverted lists; LSH deployments widen signatures as the
corpus grows). This module is that derivation, done EXACTLY and in
lock-step in both engines:

- the Spark plan reads n once per (sf_dir, table) — a column-pruned
  parquet count, memoized in ``cache`` — and bakes the
  derived knob into the plan as a literal (so the physical plan stays
  pruned and codegen-able, with no scalar-subquery gating in the hot
  path);
- the DuckDB oracle derives the SAME knob inside its SQL from
  COUNT(*) with the same integer arithmetic, so whatever fixture the
  oracle runs against, both engines agree bit-for-bit (pinned by the
  knob-lockstep sweeps and tests/test_autoscale.py).

All arithmetic is integer-exact: ``bits_for`` is "the smallest b in
[lo, hi] with n ≤ occ·2^b" (unrolled CASE, no floating log2);
``isqrt_clamped`` uses floor(sqrt(n)) — exact for the corpus counts in
scope (n < 2^40: the true root's distance to the next representable
double, ~1/(2√n), exceeds the ulp by orders of magnitude, so the
correctly-rounded double sqrt never rounds across an integer).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from mongo_to_clickhouse_spark import cache
from mongo_to_clickhouse_spark.io import load_table


def corpus_count(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Exact row count of a fixture table — the `n` every derived knob
    is a function of. Memoized; the count itself is a column-pruned
    parquet scan (statistics-only at the format level), control-plane
    by construction (one scalar to the driver)."""
    return cache.get(
        spark, sf_dir, f"count/{table}",
        lambda: load_table(spark, sf_dir, table).count(), (table,),
    )


def count_sql(table: str) -> str:
    """The oracle-side mirror of corpus_count: same relation, same n."""
    return f"(SELECT COUNT(*) FROM {table})"


# Rows per task for a ~1 ms/row Python kernel: ~4 s of compute per
# task — large enough to amortize Python-worker startup and Arrow
# batching, small enough that a straggler task can't dominate a stage.
KERNEL_FANOUT_ROWS_PER_TASK = 4_000


def kernel_fanout(
    spark: SparkSession,
    sf_dir: str,
    df,
    table: str = "documents",
    rows_per_task: int = KERNEL_FANOUT_ROWS_PER_TASK,
):
    """Scale-adaptive round-robin repartition ahead of a per-row-
    EXPENSIVE kernel (Python codec, interpreted higher-order-function
    lambda): Spark partitions a scan by file BYTES, so any operator
    whose per-row cost is much larger than its per-row bytes inherits
    near-serial parallelism from a compact parquet (SCALE.md §6n — the
    jpeg decode oracle measured 106.8×, text_cdc_chunking >250×, at
    100× rows with per-row cost flat; at sf0.1 the 5,000-doc jpeg
    oracle ran its whole ~1 ms/doc kernel on ONE task, 4.4 s serial).

    Optimization round 1 (guide §2.5 input skew / §1.2 step 1): the
    fan-out is now UNCONDITIONAL and the partition count is derived
    from the corpus count — max(defaultParallelism, ceil(n /
    rows_per_task)) — so the kernel parallelizes at every scale: small
    corpora spread across all cores, large corpora get enough tasks to
    bound per-task wall-clock regardless of how few byte-sized splits
    the scan produced. The row shuffled is just the kernel's input
    projection (doc_id, or doc_id+text), never a decoded payload.
    corpus_count is memoized per session, so no extra job in steady
    state."""
    n = corpus_count(spark, sf_dir, table)
    par = spark.sparkContext.defaultParallelism
    return df.repartition(max(par, -(-n // rows_per_task)))


def distinct_count(
    spark: SparkSession, sf_dir: str, table: str, col: str
) -> int:
    """Exact distinct count of a fixture column — the second corpus
    statistic some derivations need (round 11: dedup_embedding_cosine's
    sub-block count divides n by |labels|·target). Memoized like
    corpus_count; same control-plane posture."""
    return cache.get(
        spark, sf_dir, f"distinct/{table}.{col}",
        lambda: load_table(spark, sf_dir, table).select(col).distinct().count(),
        (table,),
    )


def _clamp(v: int, lo: int, hi: int) -> int:
    return max(lo, min(hi, v))


# ---------------------------------------------------------------------------
# bits_for — signature width targeting expected occupancy ≤ occ
# ---------------------------------------------------------------------------

def bits_for(n: int, occ: int, lo: int, hi: int) -> int:
    """Smallest b in [lo, hi] with n ≤ occ·2^b — i.e. the narrowest
    signature whose EXPECTED bucket occupancy n/2^b stays ≤ occ (under
    the uniform-hash model; the per-bucket caps remain as worst-case
    guardrails for skewed signatures)."""
    b = lo
    while b < hi and n > (occ << b):
        b += 1
    return b


def bits_for_sql(n_sql: str, occ: int, lo: int, hi: int) -> str:
    """SQL mirror of bits_for: an unrolled integer CASE — no floating
    log2, so both engines agree at every boundary."""
    if lo >= hi:  # degenerate clamp (e.g. a tuning override pinning the
        return str(lo)  # width): CASE with zero WHEN arms is invalid SQL
    whens = " ".join(
        f"WHEN {n_sql} <= {occ << b} THEN {b}" for b in range(lo, hi)
    )
    return f"(CASE {whens} ELSE {hi} END)"


# ---------------------------------------------------------------------------
# isqrt_clamped — the FAISS K ≈ √n inverted-list rule
# ---------------------------------------------------------------------------

def isqrt_clamped(n: int, lo: int, hi: int) -> int:
    return _clamp(math.isqrt(n), lo, hi)


def isqrt_clamped_sql(n_sql: str, lo: int, hi: int) -> str:
    """floor(sqrt(n)) via double sqrt — exact vs math.isqrt for the
    corpus counts in scope (see module docstring bound)."""
    return (
        f"LEAST(GREATEST(CAST(floor(sqrt(CAST({n_sql} AS DOUBLE))) "
        f"AS BIGINT), {lo}), {hi})"
    )


# ---------------------------------------------------------------------------
# ceil_div_clamped — cluster count targeting mean cluster size ≤ target
# ---------------------------------------------------------------------------

def ceil_div_clamped(n: int, target: int, lo: int, hi: int) -> int:
    return _clamp((n + target - 1) // target, lo, hi)


def ceil_div_clamped_sql(
    n_sql: str, target: int, lo: int, hi: int, intdiv: str = "//"
) -> str:
    return (
        f"LEAST(GREATEST(CAST(({n_sql} + {target - 1}) {intdiv} {target} "
        f"AS BIGINT), {lo}), {hi})"
    )
