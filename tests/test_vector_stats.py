"""Semantic pins for the embedding-statistics tier (covariance → PCA)
and the anomaly z-score — the operators whose math can't be (fully)
oracle-checked in SQL.
"""

from __future__ import annotations

import numpy as np

from mongo_to_clickhouse_spark.queries.statsops import events_anomaly_zscore
from mongo_to_clickhouse_spark.queries.vectorops import (
    PCA_K,
    emb_covariance,
    emb_pca_project,
    pca_project_frame,
)


def test_covariance_matches_numpy(spark, sf_dir):
    emb = np.array(
        [
            r.embedding
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .orderBy("vec_id")
            .collect()
        ],
        dtype=np.float64,
    )
    # replicate the micro-unit quantization the operator defines
    micro = np.round(emb * 1e6)
    ref = np.cov(micro.T, bias=True) / 1e12
    got = emb_covariance(spark, sf_dir).collect()
    assert len(got) == emb.shape[1] * (emb.shape[1] + 1) // 2
    for r in got:
        assert abs(ref[r.i, r.j] - r.cov) < 1e-8, (r.i, r.j)


def test_covariance_matches_oracle_on_planted_fixture(spark, tmp_path):
    # a planted d=8, n=200 fixture outside the graded tables: the single
    # covariance plan must hash-match its DuckDB oracle row for row
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_harness import compare

    rng = np.random.RandomState(11)
    d, n = 8, 200
    vecs = rng.normal(size=(n, d)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([i % 5 for i in range(n)], pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "embeddings.parquet"))
    sf = str(tmp_path)

    from mongo_to_clickhouse_spark.queries.vectorops import (
        EMB_COVARIANCE_SQL,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet')"
    )
    df = emb_covariance(spark, sf)
    assert df.count() == d * (d + 1) // 2
    assert compare(df, con, EMB_COVARIANCE_SQL) == []


def test_pca_components_orthonormal_and_ordered(spark, sf_dir):
    proj = pca_project_frame(spark, sf_dir)
    rows = proj.collect()
    assert {len(r.pca) for r in rows} == {PCA_K}
    mat = np.array([r.pca for r in rows])
    # variance along components must be (weakly) decreasing — eigh order
    variances = mat.var(axis=0)
    assert all(
        variances[k] >= variances[k + 1] - 1e-6 for k in range(PCA_K - 1)
    ), variances
    # projections of orthonormal loadings preserve total variance bound
    emb = np.array(
        [
            r.embedding
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        ],
        dtype=np.float64,
    )
    assert variances.sum() <= emb.var(axis=0).sum() + 1e-6
    # deterministic across invocations (sign convention + fixed math)
    again = np.array(
        [r.pca for r in pca_project_frame(spark, sf_dir).collect()]
    )
    assert np.array_equal(np.sort(mat, axis=0), np.sort(again, axis=0))


def test_anomaly_zscore_is_standardized(spark, sf_dir):
    df = events_anomaly_zscore(spark, sf_dir)
    rows = df.collect()
    by_type: dict[str, list[float]] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r.zscore)
    for t, zs in by_type.items():
        z = np.array(zs)
        assert abs(z.mean()) < 1e-3, t
        assert abs(z.std(ddof=1) - 1.0) < 1e-3, t
    flagged = [r for r in rows if r.is_anomaly]
    assert all(abs(r.zscore) > 3 for r in flagged)


def _write_embeddings(dirpath, vecs):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * len(vecs), pa.int32()),
            }
        ),
        os.path.join(dirpath, "embeddings.parquet"),
    )
    return str(dirpath)


def test_exact_sum_decimal_survives_planted_overflow(spark, tmp_path, monkeypatch):
    # 10 vectors of dim 2 with components 1000·k: mi = 1e9·k, so
    # Σmi·mj = 385e18 > 2^63 — the BIGINT accumulator cannot represent
    # it (ANSI overflow error, or a silent wrap with ANSI off), while
    # the DECIMAL(38,0) form returns the exact covariance
    # (n·Σxy − Σx·Σy)/(n·1e6)² = 8.25e20 / 1e14 = 8,250,000 — under
    # BOTH covariance registry ids (they share one oracle).
    from mongo_to_clickhouse_spark.queries import registry, vectorops

    sf = _write_embeddings(
        tmp_path / "ovf", [[1000.0 * k, 1000.0 * k] for k in range(1, 11)]
    )
    monkeypatch.setattr(vectorops, "EXACT_SUM_DECIMAL", True)
    reg = registry()
    for qid in ("emb_covariance", "emb_covariance_matmul"):
        rows = {
            (r["i"], r["j"]): r["cov"] for r in reg[qid][0](spark, sf).collect()
        }
        assert rows == {
            (0, 0): 8250000.0, (0, 1): 8250000.0, (1, 1): 8250000.0
        }, qid

    monkeypatch.setattr(vectorops, "EXACT_SUM_DECIMAL", False)
    try:
        wrapped = {
            (r["i"], r["j"]): r["cov"]
            for r in emb_covariance(spark, sf).collect()
        }
    except Exception:
        pass  # ANSI mode: the BIGINT sum overflow raises — also a fail-loud
    else:
        assert wrapped != rows, "BIGINT path should not survive 2^63"


def test_exact_sum_decimal_overflow_duckdb_side(tmp_path):
    # The oracle engine at the widening switch's design point: DuckDB
    # sums BIGINTs in HUGEINT, so the BIGINT form fails LOUD at the
    # CAST back (out-of-range), while the DECIMAL(38,0) form returns
    # the exact covariance — the same planted 385e18 > 2^63 case as the
    # Spark-side test above, proving the toggle in BOTH engines.
    import duckdb
    import pytest

    from mongo_to_clickhouse_spark.queries.vectorops import (
        _emb_covariance_oracle_sql,
    )

    sf = _write_embeddings(
        tmp_path / "ovfd", [[1000.0 * k, 1000.0 * k] for k in range(1, 11)]
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet')"
    )
    rows = con.execute(_emb_covariance_oracle_sql("DECIMAL(38,0)")).fetchall()
    assert {(i, j): c for i, j, c in rows} == {
        (0, 0): 8250000.0, (0, 1): 8250000.0, (1, 1): 8250000.0
    }
    with pytest.raises(Exception, match="(?i)range|overflow|conversion"):
        con.execute(_emb_covariance_oracle_sql("BIGINT")).fetchall()


def test_exact_sum_decimal_leaves_fixture_results_unchanged(
    spark, smoke_sf_dir, monkeypatch
):
    from mongo_to_clickhouse_spark.queries import vectorops

    base = emb_covariance(spark, smoke_sf_dir).collect()
    monkeypatch.setattr(vectorops, "EXACT_SUM_DECIMAL", True)
    wide = emb_covariance(spark, smoke_sf_dir).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in wide]


def test_ann_tiers_recall_floor(spark, sf_dir):
    # ANN tiers are approximations — verify they return well-formed
    # top-k and overlap the exact answer at all (nprobe=1 IVF on
    # near-random fixture vectors has modest recall by nature; the
    # floor is a smoke bound, the per-engine EXACTNESS of each tier is
    # what the oracle hashes pin).
    from mongo_to_clickhouse_spark.queries.vectorops import (
        TOPK,
        sim_ann_ivf,
        sim_ann_ivf_coarse,
        sim_cosine_topk,
    )

    exact = {(r.probe_id, r.neighbor_id) for r in sim_cosine_topk(spark, sf_dir).collect()}
    for fn in (sim_ann_ivf, sim_ann_ivf_coarse):
        rows = fn(spark, sf_dir).collect()
        per_probe = {}
        for r in rows:
            per_probe.setdefault(r.probe_id, []).append(r.rank)
        for probe, ranks in per_probe.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), probe
            assert len(ranks) <= TOPK
        approx = {(r.probe_id, r.neighbor_id) for r in rows}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.05, (fn.__name__, recall)


def test_pca_invariant_report_all_green(spark, sf_dir):
    rows = emb_pca_project(spark, sf_dir).collect()
    assert [r.component for r in rows] == list(range(PCA_K))
    for r in rows:
        assert r.gram_diag_dev_u == 0
        assert r.gram_offdiag_dev_u == 0
        assert r.var_order_ok
        assert r.top_var_geq_rayleigh
        assert r.explained_leq_trace
