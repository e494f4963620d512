"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is fully materialized via a noop write (forces every column
through the physical plan — ``count()`` would let Spark prune the
projections). The session is warmed once; per-query time excludes JVM
startup, matching how a resident engine would serve queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mongo_to_clickhouse_spark.session import get_spark
from mongo_to_clickhouse_spark import queries as registry
from mongo_to_clickhouse_spark.plans.meta import plan_counters, plan_fingerprint
from scripts.profiler import bench_diff, load, median, noop, noop_seconds

HEADLINE = [
    # the reference's own surface
    "sink_clickhouse_insert",      # full CDC transform (flagship)
    "sink_dual_table_split",
    "dedup_latest_version",
    "filter_timestamp_range",
    # relational / analytical
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "join_fact_dim_equi",
    "join_asof",
    "window_rank_topk_per_group",
    "agg_distinct_count",
    "sort_limit_topk",
    # event-time windows
    "stream_tumbling_window_agg",
    "stream_session_window",
    # training-data pipeline
    "dedup_exact_hash",
    "dedup_minhash_lsh_pairs",
    "text_tokenize_wordcount",
    "text_quality_score",
    "sim_cosine_topk",
    "sim_ann_lsh",
    "pipeline_training_corpus",    # fused quality→dedup→split pipeline
    "join_range_interval",         # bucketed theta→equi range join
    "decontaminate_ngram_overlap", # 8-gram benchmark-overlap join
    "text_repetition_filter",
    "emb_quantize_int8",
    "cdc_apply_oplog",             # change-stream patch-merge materialization
    "text_perplexity_unigram",
    "emb_covariance",
    "dedup_substring_spans",       # windowed ExactSubstr spans
    "sim_ann_pq",                  # product-quantization ADC search
    "text_bm25_topk",              # sparse retrieval
    "agg_heavy_hitters",           # Misra-Gries candidates + exact recount
    "sink_zorder_cluster",         # Morton-clustered parquet layout
    "tokenizer_bpe_pair_counts",   # BPE merge-candidate counting (round 4)
    "text_paragraph_dedup",        # paragraph-granularity dedup (round 4)
    "corpus_quality_logreg",       # quality-classifier scoring (round 4)
    "agg_count_min_sketch",        # explicit CMS matrix + min-probe (round 4)
    "emb_kmeans_lloyd",            # 3-round distributed Lloyd's (round 4)
    "graph_pagerank",              # 3-round integer power iteration (round 4)
    "text_feature_hashing",        # signed hashing-trick features (round 4)
    "tokenizer_bpe_merge_rounds",  # full BPE training loop (round 5)
    "emb_pca_power_matfree",       # matrix-free PCA power iteration (round 5)
    "emb_covariance_matmul",       # same function as emb_covariance (round 5 id)
    "agg_hll_sketch_explicit",     # explicit mergeable HLL registers (round 5)
    "dedup_semdedup_matmul",       # per-cluster int64 matmul kernel (round 5)
    "corpus_importance_dsir",      # DSIR importance weighting (round 5)
    "agg_kmv_theta_sketch",        # KMV theta union/intersection (round 5)
    "graph_triangle_count",        # k-NN-sparsified triangle count (round 5)
    "pipeline_shard_shuffle",      # deterministic training shards (round 5)
    "graph_label_propagation",     # 4-round sync min-label LPA (round 5b)
    "sample_coreset_kcenter",      # greedy k-center coreset (round 5b)
    "tokenizer_wordpiece_apply",   # greedy WordPiece encode (round 5b)
    "events_sequence_match",       # ClickHouse sequenceMatch/Count (round 5b)
    "tokenizer_unigram_viterbi",   # unigram hard-EM Viterbi DP (round 6)
    "tokenizer_unigram_em_soft",   # block-float forward-backward (round 6)
    "graph_kcore_onion",           # onion decomposition peeling (round 6)
    "sim_mmr_diversify",           # MMR diversity re-ranking (round 6)
    "dedup_substring_apply",       # ExactSubstr removal + rebuild (round 6)
    "eval_cluster_ari",            # double-CC cluster agreement (round 6)
    "events_concurrency_peak",     # sweep-line via distributed prefix sum (round 6)
    "agg_bitmap_rollup_merge",     # day->week->total bitmap re-merge (round 6)
    "sim_knn_graph_matmul",        # per-bucket int64-gram kernel twin (round 8)
    "multimodal_phash_kernel",     # cogroup phash verify kernel (round 8)
    "sim_ann_ivf_kernel",          # sharded-assignment IVF kernel twin (round 8)
    "events_holt_winters",         # bit-exact dyadic HW forecast (round 8)
    "events_rfm_segments",         # RFM cube on distributed ranks (round 7)
    "agg_kruskal_wallis",          # k-group rank drift omnibus (round 7)
    "graph_modularity",            # LPA partition quality Q (round 7)
    "pipeline_curriculum_order",   # curriculum stage manifest (round 7)
    "source_orc_scan",             # ORC staging round-trip (round 7)
    "pipeline_pretraining_manifest",  # one-plan quality->dedup->shards (round 7)
    "profile_layout_locality",     # natural/Morton/Hilbert span report (round 7)
    "graph_betweenness_sampled",   # sampled Brandes betweenness (round 8:
    #   heaviest id previously unwatched — ~8 s at sf0.1 under contention)
    "events_funnel_unordered",     # any-order windowed funnel (round 9)
    "events_did_estimator",        # diff-in-diff + pre-trend drift (round 9)
    "sample_ess_importance",       # importance-weight ESS ledger (round 9)
    "pipeline_chunk_overlap",      # sliding-window chunking ledger (round 9)
    "graph_adamic_adar",           # inverse-log-degree link scores (round 9)
    "eval_ann_recall_curve",       # IVF nprobe candidate-recall sweep (round 9)
    "pipeline_rag_ingest_manifest",  # chunk->embed->LSH index ledger (round 9)
    "decontaminate_ngram_sweep",   # contamination vs gram size (round 9)
    "multimodal_decode_jpeg",      # stdlib baseline-JPEG decode oracle (round 11)
    "multimodal_decode_webp",      # stdlib VP8L decode oracle (round 11)
    "sample_bootstrap_ci",         # 3-seed field-polynomial Poisson bootstrap (round 11)
]

# The relational EXHIBIT forms of the three dedup/ANN pairs: benched and
# recorded every round (exhibit_queries in BENCH_QUERIES.json) but NOT
# in the headline total — the headline slots carry the production kernel
# twins (VERDICT r9 item 6). Round 10 also derived their LSH/IVF/cluster
# knobs from corpus size (operators/autoscale.py), so these are now
# scale-safe too — they remain exhibits because the kernel twins are the
# production path, not because they misbehave.
EXHIBIT = [
    "dedup_semdedup",
    "sim_knn_graph_lsh",
    "sim_ann_ivf",
]


def headline_line(total: float, sf: str, docs_per_sec: int,
                  timings: dict[str, float],
                  spreads: dict[str, float] | None = None) -> str:
    """Build the driver-parsed final stdout line — BOUNDED-SIZE.

    The driver tail-captures only the last 2,000 chars of stdout; rounds
    4 and 6 both shipped unparseable BENCH files because the line carried
    the FULL per-query dict, which grows ~30 chars per headline query and
    crossed the window between 54 and 62 queries (at 84+ queries it would
    be ~2,500 chars — unconditionally truncated). Round 12 (VERDICT r11
    item 1: the driver could not compute a per-query geomean for two
    rounds) restores per-query visibility under that cap from both ends:

    - ``per_query_file`` names the committed sidecar
      (BENCH_QUERIES.json) that carries every query's median, samples
      and spread — declared as part of the bench contract so the driver
      can ingest it;
    - ``queries`` carries as many per-query medians as fit a fixed
      1,800-char budget for the whole line, slowest-first (a
      deterministic rule, and the slow queries are the ones regression
      detection needs most); ``queries_omitted`` counts the rest, which
      are only reachable via the sidecar.

    Entries are only ever ADDED slowest-first up to the budget — never
    renamed; a query absent from ``queries`` is in the sidecar, not
    dropped (the full headline set is the HEADLINE list + registry).
    The hard size guard (<1,900 chars, raised as RuntimeError so
    `python -O` can't strip it) keeps the rounds-4/6 truncation class
    impossible to reintroduce.
    """
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "flagship_docs_per_sec": docs_per_sec,
        "n_queries": len(timings),
        "per_query_file": "BENCH_QUERIES.json",
        "slowest5": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5]),
    }
    if spreads:
        # constant-size spread summary: median and max relative spread
        # over all queries (the per-query spreads live in
        # BENCH_QUERIES.json) — the honesty band around `value`
        sp = sorted(spreads.values())
        payload["spread_p50"] = sp[len(sp) // 2]
        payload["spread_max"] = sp[-1]
    # fill `queries` slowest-first until the serialized line would cross
    # the 1,800-char budget (the tail window is 2,000; ~100 chars of
    # slack absorbs a stray late stderr WARN line)
    payload["queries"] = {}
    payload["queries_omitted"] = 0
    base_len = len(json.dumps(payload))
    budget = 1800 - base_len
    for qid, t in sorted(timings.items(), key=lambda kv: (-kv[1], kv[0])):
        entry = len(json.dumps({qid: t})) + 1  # +1 for the separator
        if entry <= budget:
            payload["queries"][qid] = t
            budget -= entry
        else:
            payload["queries_omitted"] += 1
    line = json.dumps(payload)
    if len(line) >= 1900:
        raise RuntimeError(f"headline line {len(line)} chars >= 1900")
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(app_name="bench")

    reg = registry.registry()
    # Warm-up pass: JVM codegen caches, parquet footers, broadcast builds.
    # The timed pass then measures steady-state cost, which is what a
    # resident engine serves (JVM spin-up is a deployment cost, not a
    # per-query cost — BASELINE.md notes the 2x gate is about exactly
    # these fixed overheads).
    spark.range(1).count()
    plan_fps: dict[str, str] = {}
    plan_ops: dict[str, dict] = {}
    for qid in HEADLINE + EXHIBIT:
        df = reg[qid][0](spark, sf_dir)
        plan_fps[qid] = plan_fingerprint(df)
        plan_ops[qid] = plan_counters(df)
        noop(df)

    def _calibrate() -> float:
        """Fixed-cost contention sentinel (VERDICT r9 item 4): a
        constant JVM aggregation whose runtime depends only on ambient
        machine load — never on any query, data, or plan change. Its
        drift vs the previous run lets BENCH_DIFF separate real
        regressions from a hot machine (the r9 driver run carried 5
        phantom REGRESSED flags that had to be cleared by hand against
        plan prints). MIN of two back-to-back runs per pass: a single
        short probe is itself GC/JIT-jittery (first validation run
        swung 0.08-0.53 s on an idle box); the min of two ~1 s probes
        is stable on an idle machine and still inflates under real
        contention, which steals cores from BOTH runs."""
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            noop(spark.range(200_000_000).selectExpr(
                "sum((id * 2654435761) % 97) AS s"))
            best = min(best, time.time() - t0)
        return best

    _calibrate()  # warm the sentinel's codegen path too

    # median of 3 timed runs per query in ALTERNATING order — single-run
    # numbers at sub-second scale are noisy (GC, OS scheduling), and
    # back-to-back reps all land inside the same ambient-load episode.
    # Round-robin passes spread each query's samples across the bench's
    # whole wall-clock, so a minutes-long background load (the r8
    # flagship swung 162k->101k->123k docs/s across rounds) perturbs at
    # most one sample of each query instead of all three. The flagship
    # additionally runs once per pass-start (absorbing post-pass GC) for
    # 2x the samples behind the headline docs/s figure.
    REPS = 3
    sample_log: dict[str, list[float]] = {
        qid: [] for qid in HEADLINE + EXHIBIT
    }
    calibration: list[float] = []

    def _timed(qid: str) -> None:
        sample_log[qid].append(noop_seconds(spark, reg[qid][0], sf_dir))

    for _ in range(REPS):
        calibration.append(round(_calibrate(), 3))
        _timed("sink_clickhouse_insert")  # extra flagship sample per pass
        for qid in HEADLINE + EXHIBIT:
            _timed(qid)

    all_timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for qid, samples in sample_log.items():
        s = sorted(samples)
        med = median(s)
        all_timings[qid] = round(med, 3)
        # relative spread (max-min)/median: the honesty signal BENCH_DIFF
        # readers need to judge whether a 1.3x flag clears the noise floor
        spreads[qid] = round((s[-1] - s[0]) / max(med, 1e-9), 2)
    timings = {q: t for q, t in all_timings.items() if q in HEADLINE}
    exhibit = {q: t for q, t in all_timings.items() if q in EXHIBIT}

    total = round(sum(timings.values()), 3)
    # Flagship throughput in the reference's own unit (docs/s; its design
    # envelope is 5-10k docs/s sustained per tenant — BASELINE.md).
    n_events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    docs_per_sec = round(n_events / max(timings["sink_clickhouse_insert"], 1e-9))

    # Plan fingerprints + structural counters go to a SEPARATE committed
    # artifact: round 4 appended them to the headline JSON line, which
    # grew past the driver's tail-capture window and truncated the line
    # mid-JSON (BENCH_r04.json landed with parsed=null). Round 6 repeated
    # the failure at a different size: the per-query `queries` dict grows
    # ~30 chars per headline query and crossed the driver's 2,000-char
    # tail window between 54 and 62 queries. Structural fix: the final
    # stdout line is CONSTANT-SIZE (no per-query payload at all);
    # per-query timings live in the committed BENCH_QUERIES.json.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    cal_med = median(calibration)
    record = {"sf": sf, "total_sec": total,
              "flagship_docs_per_sec": docs_per_sec,
              # ambient-normalized flagship (round 11, VERDICT r10
              # item 7): docs/s x calibration_med cancels machine
              # slowness (a hot box lowers docs/s and raises the
              # fixed-cost sentinel proportionally), so the 95-146k
              # cross-round band collapses to a comparable number
              # without the per-round footnote. Unit: docs per
              # second per calibration-second.
              "flagship_docs_per_sec_calibrated": round(
                  docs_per_sec * cal_med),
              "reps": REPS,
              "queries": timings, "spreads": spreads,
              "exhibit_queries": exhibit,
              "calibration": calibration,
              "calibration_med": round(cal_med, 3),
              "samples": {q: [round(v, 3) for v in s]
                          for q, s in sample_log.items()}}
    plans = {"sf": sf, "plan_fp": plan_fps, "plan_ops": plan_ops}
    # automatic run-over-run regression table (BENCH_DIFF.md) against
    # the PREVIOUS committed records, read before they are overwritten,
    # so the cross-round comparison is a generated artifact, not prose
    prev: dict = {}
    for name in ("BENCH_PLANS.json", "BENCH_QUERIES.json"):
        try:
            prev.update(load(os.path.join(repo_dir, name)))
        except (OSError, ValueError):
            pass
    if "queries" in prev and prev.get("sf") == sf:
        with open(os.path.join(repo_dir, "BENCH_DIFF.md"), "w") as f:
            f.write("\n".join(bench_diff(prev, {**plans, **record}))
                    + "\n")
    for name, rec in (("BENCH_PLANS.json", plans),
                      ("BENCH_QUERIES.json", record)):
        with open(os.path.join(repo_dir, name), "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)

    print(headline_line(total, sf, docs_per_sec, timings, spreads))


if __name__ == "__main__":
    main()
