#!/usr/bin/env python
"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
COMPACT JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {<10 slowest>}, "n_queries": ..., "sf": ..., "artifact": ...}.

The stdout line is deliberately bounded: the driver records only the
LAST 2000 characters of stdout into BENCH_r{N}.json, and once the full
per-query map grew past that (round 5, ~130 queries) every driver
bench record read `parsed: null` with even the suite total truncated
off the tail (VERDICT r11 item 1 — six rounds of lost telemetry). So
the one stdout line now carries the suite total, query count, and the
10 slowest per-query medians, with a hard length budget pinned by
tests/test_bench_contract.py; the COMPLETE timing map + raw samples
live in the committed BENCH_LOCAL_r{N}.json artifact the line names.

The headline set spans every engine surface: TPC-H-shaped join/agg,
windows, JSON/date functions, the wine reference pipeline (SURVEY.md §2
Part A end-to-end), and the training-data extensions (dedup, ANN
similarity, TF-IDF). Each query is fully executed via a count()-free
collect-to-driver of its (small) result; a warmup run of the flagship
query first pays JVM/codegen startup so per-query numbers reflect
steady-state execution.

Exception: queries whose RESULT is a full table (the wine pipeline
emits every transformed row) are materialized through Spark's `noop`
sink instead — that executes the complete plan on the executors (same
work a real parquet/JDBC load would do, minus the bytes-on-disk) and
keeps the measurement about the engine, not about serializing 100k+
wide rows through the driver socket, which is not part of any real
pipeline.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from whisky_wine_etl_spark import plans  # noqa: E402
from whisky_wine_etl_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "flagship_q5_revenue_by_nation",  # 5-way join + agg (broadcast dims)
    "q1_pricing_summary",             # wide scan + groupBy agg
    "join_inner_equi",                # fact-fact shuffle join
    "join_asof_last_purchase",        # as-of join (union + keyed window)
    "agg_salted_skew",                # two-stage salted aggregation
    "topk_per_group",                 # window + filter
    "window_running_sum",             # running frame over events
    "func_json_pack",                 # JSON extraction over events.props
    "wine_pipeline",                  # reference T-1..T-10 end-to-end
    "stream_tumbling_1h",             # Structured Streaming windowed agg
    "dedup_exact",                    # hash-groupBy dedup over documents
    "dedup_minhash_lsh",              # MinHash+LSH near-dup
    "dedup_clusters_lsh",             # LSH pair graph → connected components
    "sim_topk_bruteforce",            # exact cosine top-k over embeddings
    "sim_topk_ivf",                   # IVF ANN index build + probe (Arrow)
    "text_tfidf_top_terms",           # tokenize + explode + tf-idf + topk
    "corpus_decontaminate",           # train/eval n-gram overlap removal
    "corpus_pack_sequences",          # two-pass distributed sequence packing
    "text_chunk_overlap",             # sliding-window token chunking
    "q8_market_share",                # deepest dim snowflake (7 joins)
    "q21_waiting_suppliers",          # EXISTS/NOT-EXISTS → semi + anti
    "join_range_binned_attribution",  # interval join as binned equi-join
    "merge_scd2_segment",             # SCD2 dimension maintenance
    "rollup_incremental_day",         # hourly partials → daily rollup
    "q8_market_share_skew_safe",      # explicit salted fact-fact join
    "dedup_incremental",              # ledger dedup: batch vs corpus hashes
    "dedup_containment",              # exact overlap-coefficient pairs
    "text_vocab_topk",                # corpus vocabulary head (tf+df top-k)
    "pyds_range_events",              # Python DataSource connector scan
    "table_time_travel",              # snapshot-table version read
    "graph_pagerank_copurchase",      # iterative pagerank (fixed rounds)
    "dedup_containment_capped",       # stop-shingle scale profile (vs uncapped row above)
    "text_repetition_signals",        # zero-shuffle Gopher repetition gate
    "events_pattern_match",           # ordered-seq funnel pattern count
    "sim_knn_classify",               # brute-force kNN + majority vote
    "assoc_rules_lift",               # basket rules on one fact shuffle
    "sim_kmeans_lloyd",               # iterative Lloyd's (codegen assignment)
    "sim_kmeans_parallel_init",       # k-means|| seeding (r11, md5 draw)
    "stream_kmeans_assign",           # fit-batch/serve-stream scoring (r11)
    "sim_kmeans_pll_refined",         # kmeans|| + Lloyd's end-to-end (r11)
    "agg_hll_exact_anchor",           # two-phase exact distinct (r11)
    "text_bm25_search",               # BM25 top-k with broadcast stats
    "sim_pca_project",                # partial-Gram PCA + codegen projection
    "agg_heavy_hitters_mg",           # bounded-memory MG candidates + exact recount
    "stream_left_outer_attribution",  # watermarked stream-stream outer join
    "graph_bfs_distance",             # iterative frontier BFS
    "ml_ols_normal_eq",               # two-pass closed-form OLS fit
    "sim_sparse_cosine_join",         # inverted-index tf-idf cosine pairs
    "join_interval_overlap",          # binned interval-interval join
    "events_multitouch_attribution",  # U-shaped credit over binned lookbacks
    "graph_kcore",                    # iterative degree-peel (3 rounds)
    "ml_naive_bayes_lang",            # join/agg-only NB train + classify
    "ml_logistic_newton",             # 3 unrolled Newton steps, scan-per-step
    "stat_bootstrap_poisson",         # 64-replicate deterministic bootstrap
    "stat_kendall_tau_daily",         # calendar-bounded pairwise tau
    "geo_haversine_nearest",          # broadcast NN geo join
    "window_cumulative_product",      # log-space product window
    "ml_decision_stump",              # histogram split finding
    # graph_jaccard_neighbors is correctness-registered but benched
    # out: its common-neighbor join is Σdeg² (~26 s at sf0.1), priced
    # honestly in its docstring; the capped-index lever is the scale
    # path and the uncapped exact form stays the oracle
    "stat_kaplan_meier",              # survival over bounded durations
    "source_binaryfile_stats",        # whole-file binary ingestion
    "ts_decompose_additive",          # STL-lite windows + 24-row join
    "events_attribution_models",      # 4 credit rules, one touch table
    "func_url_pack",                  # parse_url JVM builtin round-trip
    "text_collocations_pmi",          # bigram PMI over shared marginals
    "corpus_bpe_train_rounds",        # 3-round vocab-bounded BPE trainer
    "stat_multiple_testing_bh",       # 25 z-tests + BH step-up windows
    "layout_bucketed_join_roundtrip", # zero-exchange co-located join
    "join_bloom_prefilter",           # bloom semi-join reduction (exact answer)
    "sketch_cms_topk_err",            # count-min build + top-k read-back
    "sketch_quantile_hist",           # mergeable histogram quantiles
    "graph_hits_authorities",         # 2 unrolled HITS rounds (bipartite)
    "rec_item_item_cosine",           # basket item-item CF top-3
    "text_inverted_index",            # posting-list build (term-partitioned)
    "ts_trend_per_key",               # grouped closed-form OLS (2 shuffles)
    "ml_ridge_kfold_cv",              # total-minus-fold CV, 2 passes for k folds
    "ts_next_higher_value",           # secondary-sort mapInPandas monotone stack
    "er_deletion_neighborhood_join",  # FastSS ED<=1 equi-join
    "graph_modularity_brand",         # Newman Q over co-purchase communities
    "sketch_equidepth_hist",          # percentile_disc bounds + broadcast binning
    "agg_pct_of_parent",              # two-level shares from one leaf pass
    "ml_huber_irls2",                 # 2 unrolled IRLS refits, broadcast model
    "ts_time_weighted_avg",           # duration-weighted mean per user
    "window_rolling_slope",           # windowed OLS moments, RANGE frame
    "agg_weighted_median_2pass",      # distributed selection (histogram+refine)
    "diag_key_skew_profile",          # count-of-counts Gini + percentiles
    "events_retention_decay_fit",     # pooled retention -> log-linear fit
    "events_dau_wau_mau",             # activity-shadow trailing distincts
    "corpus_negative_samples",        # two-pass surrogate keys + cyclic-hash negatives
    "ml_markov_next_event_eval",      # train/eval split, broadcast model join
    "corpus_bpe_apply",               # encode via merge-applied vocabulary join
    "geo_grid_radius_join",           # 3x3 cell equi-join radius search
    "sim_topk_mips",                  # MIPS via augmented-cosine LSH
    "window_period_over_period",      # MoM/YoY lags over month frame
    "sketch_kmv_distinct",            # salted bottom-k distinct sketch
    "sim_topk_pq",                    # PQ/ADC compressed-domain ANN
    "etl_incremental_agg_state",      # partial-state merge == recompute
    "text_cdc_chunks",                # Arrow-tier content-defined chunker
    "dedup_chunk_overlap",            # chunk-hash posting-list dedup
    "er_fellegi_sunter",              # blocked linkage scoring
    "join_asof_cogroup",              # cogroup + merge_asof per key
    "privacy_tokenization_vault",     # tokenize -> agg -> reidentify
    "sketch_kmv_intersection",        # bottom-k union intersection est
    "sort_global_contract",           # range-partition total order proof
    "func_timezone_pack",             # DST-aware local-hour bucketing
    "privacy_t_closeness",            # QI-group TVD privacy audit
    "graph_sssp_weighted",            # frontier Bellman-Ford
    "ts_holt_linear",                 # per-key sequential fold (cogroup tier)
    "alloc_capped_proportional",      # int64 water-filling quota
    "dedup_url_canonical",            # URL canonicalize + hash dedup
    "events_shapley_attribution",     # coalition game on user-grain pass
    "sim_mmr_rerank",                 # MMR diversity re-rank
    "ml_cox_ph",                      # survival regression (range windows)
    "sim_kcenter_greedy",             # farthest-first coverage seeding
    "func_inet_pack",                 # IPv4 parse + subnet rollup
    # round-5a additions — each verified oracle-green at sf0.1 AND
    # timed (<2.5 s warm) BEFORE being appended here, per the round-4
    # bench-hygiene rule. graph_jaccard_capped is NOT listed: like its
    # uncapped twin it is Σdeg²-bound on this uniform synthetic graph
    # (~20 s at sf0.1, priced in its docstring).
    "ts_ewma_time_decay",             # half-life decay via exact 2^k prefix
    "join_bitemporal_asof",           # two-axis point-in-time lookup
    "er_sorted_neighborhood",         # rank-window blocking via surrogate keys
    "ml_silhouette_labeled",          # centroid silhouette (6dp-pinned)
    # round-5b additions, same pre-flight rule (sf0.1-verified + timed).
    # stat_hodges_lehmann is NOT listed: its calendar² Walsh frame +
    # distributed median selection runs ~4 s at sf0.1 (priced in its
    # docstring), dominated by materializing 2.9M pairs.
    "stat_logrank_test",              # two-cohort survival comparison
    "ml_pr_curve_ap",                 # PR curve on the 11-row score histogram
    "alloc_knapsack_greedy",          # budgeted greedy via 2-pass running total
    "sim_dbscan_embedding",           # grid DBSCAN + star-CC (~5.6 s: iterative band)
    # round-6 addition (same pre-flight: sf0.1 oracle-green + timed).
    # This restores a Jaccard-family entry to the headline (VERDICT r5
    # item 5): the brand restriction bounds the pair join at ~5.6e5
    # rows at sf0.1 (~2.8 s warm — the basket+join floor its graph
    # siblings also pay). The full-graph twins stay benched out as
    # priced (Σdeg² on a uniform graph); the cap lever is demonstrated
    # where it bites on the hub-injected graph by
    # graph_jaccard_skew_capped + tests/test_jaccard_skew_cap.py.
    "graph_jaccard_brand",            # within-brand top-3 jaccard pairs
    "corpus_duplicate_spans",         # ExactSubstr spans (Lee et al. 2022)
    # round-7 additions (same pre-flight: sf0.1 oracle-green + timed —
    # 0.5 s and 2.0 s warm). graph_jaccard_skew_capped stays benched
    # out as priced (its job is the cap demonstration on the
    # hub-injected graph, ~4.8 s of deliberate Σdeg² stress).
    "sample_stratified_quota",        # exact-budget stratified sample (2-phase top-k)
    "stream_rocksdb_tumbling",        # RocksDB state-store determinism twin
    # round-8 additions (same pre-flight: sf0.1 oracle-green + timed —
    # 1.1 s and 2.2 s warm; first call pays a one-time setup the
    # per-(sf,app) dir guard then skips: the 3-batch chaos stream /
    # the three format writes).
    "stream_sink_exactly_once_chaos", # manifest sink exactly-once under retry debris
    "source_format_fidelity_matrix",  # parquet/orc/csv type-fidelity matrix
    # round-9 additions (same pre-flight: sf0.1 oracle-green + timed —
    # ~1.0 s and ~3.7 s warm; the stream join pays the same
    # per-micro-batch state-store commit floor as its left-outer twin).
    "join_salted_skew",               # salt-and-replicate skew join (exact)
    "stream_full_outer_attribution",  # two-sided watermark eviction join
]


# Hard budget for the single stdout line. The driver tails 2000 chars;
# staying well under leaves room for any harness framing around it.
STDOUT_LINE_BUDGET = 1900
_TOPK_STDOUT_QUERIES = 10


def _compact_stdout_line(payload: dict, artifact: str) -> str:
    """The ONE stdout JSON line, guaranteed <= STDOUT_LINE_BUDGET chars.

    Keeps the driver-contract keys (metric/value/unit/sf) plus the 10
    slowest per-query medians (the regression-watch head) and the name
    of the artifact file holding the complete map. Belt-and-braces: if
    a pathological name/value combination ever pushes the line over
    budget, the queries map is dropped rather than the total."""
    slowest = dict(
        sorted(payload["queries"].items(), key=lambda kv: (-kv[1], kv[0]))[
            :_TOPK_STDOUT_QUERIES
        ]
    )
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "sf": payload["sf"],
        "n_runs": payload["n_runs"],
        "n_queries": len(payload["queries"]),
        "queries": slowest,
        "queries_truncated_to": _TOPK_STDOUT_QUERIES,
        "artifact": artifact,
    }
    line = json.dumps(compact)
    if len(line) > STDOUT_LINE_BUDGET:
        compact.pop("queries", None)
        compact.pop("queries_truncated_to", None)
        line = json.dumps(compact)
    return line


def _merge_prior_artifact(local: dict, prior: dict) -> None:
    """Merge a to-be-overwritten BENCH_LOCAL artifact into the new one.

    Two obligations (VERDICT r8 item 5 / ADVICE r9 item 3): (a) any
    envelope_/driver_run_/note/prior_run-prefixed key in the old file
    survives the rewrite (the driver benches the PREVIOUS round's tree
    into NEXT round's filename — that cross-box datapoint must not be
    destroyed); (b) a differing top-level run about to be displaced is
    stashed into a bounded newest-first list (`prior_runs_same_file`,
    deduped by value, capped at 10 — raised from 5 in r11, where five
    same-round runs left the driver's cross-box datapoint one rerun
    from eviction) — a single setdefault slot kept only the FIRST
    displaced run, so a third bench run destroyed the second's
    numbers."""
    for k, v in prior.items():
        if (
            k.startswith(("envelope", "driver_run", "note", "prior_run"))
            and k not in local
        ):
            local[k] = v
    if prior.get("value") not in (None, local.get("value")):
        stash = list(prior.get("prior_runs_same_file") or [])
        legacy = prior.get("prior_run_same_file")
        if legacy and legacy not in stash:
            stash.append(legacy)
        displaced = {
            k: prior.get(k)
            for k in ("value", "queries", "n_runs", "sf")
            if k in prior
        }
        if all(s.get("value") != displaced.get("value") for s in stash):
            stash.insert(0, displaced)
        local["prior_runs_same_file"] = stash[:10]
        local.pop("prior_run_same_file", None)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    plans.load_all()
    spark = get_spark(cpus=cpus)

    # warmup: pay session/codegen startup outside the timed region
    plans.QUERIES[HEADLINE[0]](spark, sf_dir).collect()

    full_table_results = {"wine_pipeline"}  # sink-materialized (see module docstring)

    # median of N_RUNS full passes: this box's run-to-run noise is up
    # to 3x (SURVEY §8), so a single sample is meaningless for
    # round-over-round comparison. Each pass REBUILDS every DataFrame
    # from the registry — re-collecting the same object would reuse
    # its shuffle stage output and time only the result stage.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(n_runs):
        for name in HEADLINE:
            t0 = time.perf_counter()
            df = plans.QUERIES[name](spark, sf_dir)
            if name in full_table_results:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            samples[name].append(time.perf_counter() - t0)
            # drop persisted intermediates (LSH bands, shingle arrays,
            # ...) so no query's working set leaks into the next one.
            # clearCache() misses localCheckpoint RDDs (pagerank, CC
            # label frames): those are freed when their py4j refs are
            # collected, so force the Python GC — otherwise executor
            # storage fills over the suite and later iterative queries
            # measure GC pressure, not their own plan
            spark.catalog.clearCache()
            import gc

            gc.collect()

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

    timings = {name: round(median(xs), 3) for name, xs in samples.items()}
    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    payload = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_runs": n_runs,
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
    }
    # The driver's BENCH_r{N}.json preserves only a 2000-char tail of
    # stdout — not enough for the full per-query map (and from r5 the
    # overgrown one-line payload truncated even the total: every
    # BENCH_r05..r11 parsed null). Persist the COMPLETE timing map
    # (plus raw per-run samples) to a committed, diff-able artifact
    # keyed by the upcoming round number; stdout gets only the compact
    # line printed at the end of this function.
    artifact_name = "BENCH_LOCAL_unversioned.json"
    try:
        import glob
        import re

        here = os.path.dirname(os.path.abspath(__file__))
        # Round number: explicit SPARK_GRAFT_ROUND wins; the fallback
        # inference (max CORRECTNESS round + 1) drifts by one when
        # bench re-runs AFTER the round's CORRECTNESS artifact lands
        # (ADVICE r6) — so set the env var when reproducing a round.
        env_round = os.environ.get("SPARK_GRAFT_ROUND")
        n_round = None
        if env_round is not None:
            # Defensive parse (ADVICE r7): a malformed value must not
            # crash artifact-writing AFTER the timed sweep completed.
            try:
                n_round = int(env_round.strip().lstrip("rR") or "")
            except ValueError:
                print(
                    f"WARN: unparseable SPARK_GRAFT_ROUND={env_round!r}; "
                    "falling back to inferred round",
                    file=sys.stderr,
                )
        if n_round is None:
            rounds = [
                int(m.group(1))
                for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
                if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
            ]
            n_round = (max(rounds) + 1) if rounds else 0
        local = dict(payload)
        local["samples"] = {k: [round(x, 3) for x in v] for k, v in samples.items()}
        # Envelope preservation + displaced-run stash: see
        # _merge_prior_artifact's docstring.
        artifact_name = f"BENCH_LOCAL_r{n_round:02d}.json"
        out_path = os.path.join(here, artifact_name)
        try:
            with open(out_path) as f:
                prior = json.load(f)
            _merge_prior_artifact(local, prior)
        except (OSError, ValueError):
            pass
        with open(out_path, "w") as f:
            json.dump(local, f, indent=1, sort_keys=True)
    except OSError:
        pass  # a read-only checkout still gets the stdout contract
    print(_compact_stdout_line(payload, artifact_name))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
