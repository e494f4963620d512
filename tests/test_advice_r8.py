"""Planted-fixture tests for the round-8 ADVICE fixes: the Spark-side
\\b word-boundary escape in text_code_detect's keyword branch, SQL
half-away similarity rounding in the Arrow kernel twins, the
calendar-spine zero-fill in window_rolling_corr_pair, the realized-k
Hill estimator on small corpora, and the stream_minhash_index_upsert
work-dir cleanup."""

from __future__ import annotations

import datetime as dt
import glob
import os
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mongo_to_clickhouse_spark import cache
from mongo_to_clickhouse_spark.queries.statsops import (
    EVENTS_POWER_LAW_HILL_SQL,
    events_power_law_hill,
)
from mongo_to_clickhouse_spark.queries.textops import (
    TEXT_CODE_DETECT_SQL,
    text_code_detect,
)
from mongo_to_clickhouse_spark.queries.bizops import (
    WINDOW_ROLLING_CORR_PAIR_SQL,
    window_rolling_corr_pair,
)
from mongo_to_clickhouse_spark.queries.vectorops import _round6_half_away
from tests.oracle_harness import compare

_T0 = dt.datetime(2024, 6, 1)


def _duck(sf, *tables):
    """DuckDB connection with views for just the planted tables."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf, f"{t}.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _write_documents(tmp_path, texts):
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["web"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "documents.parquet"))
    return str(tmp_path)


def _write_events(tmp_path, rows):
    """rows: list of (event_id, user_id, event_type, value, day_offset)."""
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [_T0 + dt.timedelta(days=r[4]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    return str(tmp_path)


# ---------------------------------------------------------------------------
# text_code_detect keyword branch: \b must survive Spark's literal parser
# ---------------------------------------------------------------------------


def test_code_detect_keyword_branch_fires_on_low_symbol_code(
    spark, tmp_path
):
    # keyword-rich, symbol-FREE text: only the kw_ct >= 3 branch can
    # flag it. Before the \\b escape fix Spark counted 0 keywords
    # (the literal \b parsed as a backspace char) while DuckDB counted
    # 4 — the is_code flag silently diverged from the oracle.
    kw_only = (
        "def process then return the result and import the helpers "
        "while the class stays simple"
    )
    prose = "the quick brown fox jumps over the lazy dog every day"
    sf = _write_documents(tmp_path, [kw_only, prose])
    cache.clear()
    got = {r.source: r for r in text_code_detect(spark, sf).collect()}
    assert got["web"].kw_hits == 4
    assert got["web"].n_code == 1  # kw_only flagged, prose not
    problems = compare(
        text_code_detect(spark, sf),
        _duck(sf, 'documents'),
        TEXT_CODE_DETECT_SQL,
    )
    assert problems == [], problems


def test_code_detect_boundary_is_a_real_word_boundary(spark, tmp_path):
    # substrings must NOT count: 'classic' contains 'class',
    # 'definite' contains 'def', 'varnish' contains 'var' — zero hits
    sf = _write_documents(
        tmp_path, ["classic definite varnish interior revarnished"]
    )
    cache.clear()
    r = text_code_detect(spark, sf).collect()[0]
    assert r.kw_hits == 0
    assert r.n_code == 0


# ---------------------------------------------------------------------------
# kernel-twin similarity rounding: half-away ties, matching SQL round()
# ---------------------------------------------------------------------------


def test_round6_half_away_matches_sql_round_semantics():
    x = np.array([0.0000005, -0.0000005, 0.0000015, -0.0000015, 0.25])
    got = _round6_half_away(x)
    # SQL round() ties away from zero; np.round would give 0.0 / 2e-6
    want = np.array([1e-6, -1e-6, 2e-6, -2e-6, 0.25])
    assert np.allclose(got, want, atol=0, rtol=0)
    # and agrees with DuckDB's round() on the same values
    con = _duck(tempfile.gettempdir())
    for v in x:
        d = con.sql(f"SELECT round({v!r}, 6) AS r").fetchone()[0]
        assert float(_round6_half_away(np.array([v]))[0]) == d


# ---------------------------------------------------------------------------
# window_rolling_corr_pair: the 14-row frame must span 14 calendar days
# ---------------------------------------------------------------------------


def test_rolling_corr_zero_fills_gap_days(spark, tmp_path):
    # observed days 0 and 20 only (gap of 19 days). With the spine the
    # output has 21 rows and day 20's trailing-14 frame covers days
    # 7..20 — all zeros except day 20 itself, so the click series in
    # the frame is [0,...,0,100] and day 0 is NOT in its frame.
    rows = [
        (1, 1, "click", 100.0, 0),
        (2, 1, "purchase", 50.0, 0),
        (3, 2, "click", 100.0, 20),
        (4, 2, "purchase", 50.0, 20),
    ]
    sf = _write_events(tmp_path, rows)
    cache.clear()
    out = window_rolling_corr_pair(spark, sf).collect()
    assert len(out) == 21  # full calendar spine, not 2 observed days
    by_day = {r.day_idx - out[0].day_idx: r for r in out}
    assert by_day[1].click_dollars == 0  # gap day zero-filled
    assert by_day[20].n_days == 14  # full frame of calendar rows
    problems = compare(
        window_rolling_corr_pair(spark, sf),
        _duck(sf, 'events'),
        WINDOW_ROLLING_CORR_PAIR_SQL,
    )
    assert problems == [], problems


# ---------------------------------------------------------------------------
# events_power_law_hill: k must be the REALIZED tail size
# ---------------------------------------------------------------------------


def test_hill_small_corpus_uses_realized_k(spark, tmp_path):
    # 5 users with counts 16, 8, 4, 2, 1 — far fewer than HILL_K+1.
    # terms has 5 rows (x_min = 1); ln ratios ln16+ln8+ln4+ln2 =
    # 10*ln2. alpha = k / sum = 5 / (10 ln 2) with realized k=5; the
    # old fixed k=100 reported alpha 20x too LARGE in the numerator
    # (k=100/sum) and mislabeled the k column.
    rows = []
    eid = 0
    for uid, cnt in [(1, 16), (2, 8), (3, 4), (4, 2), (5, 1)]:
        for _ in range(cnt):
            rows.append((eid, uid, "view", 1.0, 0))
            eid += 1
    sf = _write_events(tmp_path, rows)
    cache.clear()
    out = events_power_law_hill(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r.k == 5
    expected_sum = sum(
        round(np.log(c) * 1_000_000) for c in (16, 8, 4, 2, 1)
    )
    assert r.sum_log_ratio_micro == expected_sum
    assert r.hill_alpha_micro == int(
        np.floor(5 * 1_000_000_000_000.0 / expected_sum)
    )
    problems = compare(
        events_power_law_hill(spark, sf),
        _duck(sf, 'events'),
        EVENTS_POWER_LAW_HILL_SQL,
    )
    assert problems == [], problems


# ---------------------------------------------------------------------------
# stream_minhash_index_upsert: the tempdir must be cleaned up
# ---------------------------------------------------------------------------


def test_stream_upsert_cleans_work_dir(spark, sf_dir):
    from mongo_to_clickhouse_spark.queries.dedupops import (
        stream_minhash_index_upsert,
    )

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "mhup-*")))
    acct = stream_minhash_index_upsert(spark, sf_dir)
    rows = acct.collect()  # must survive the work-dir removal
    assert [r.batch_id for r in rows] == [0, 1, 2]
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "mhup-*")))
    assert after <= before  # no new leaked work dirs
