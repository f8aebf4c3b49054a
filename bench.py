"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints TWO JSON lines: a detailed per-query line first, then a compact
{"metric", "value", "unit", "n_queries", "n_failed", "sf"} summary
LAST (the driver tails stdout and parses the final line; the detailed
line outgrew its capture window at 120+ queries — BENCH_r11 parsed
null). `value` = total wall seconds across headline queries (each fully
executed via `plans.profiler.checksum`, a row-count + all-column
xxhash64 aggregate, so Catalyst cannot prune any output column).

The sidecar `bench_detail_sf<sf>_c<cpus>.json` holds the detail line
plus `counts`: per query, the jobs, stages, tasks, task seconds,
shuffle write bytes/records, spill and input bytes of its last timed
rep, read exactly from the Spark status store."""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "groupby_agg",        # TPC-H Q1: scan+agg throughput
    "filter_pushdown",    # Q6: pushdown selectivity
    "join_inner",         # Q3: fact-fact shuffle join + topk
    "join_broadcast",     # Q5: broadcast dim chain
    "merge_asof",         # asof window join
    "rolling_range",      # time-range window
    "resample",           # time bucketing
    "sort_values",        # global range-partitioned sort
    "dedup_exact",        # hash dedup
    "dedup_minhash",      # MinHash LSH candidate pipeline
    "ann_bruteforce",     # map-only cosine top-k
    "text_quality",       # expression-heavy text scoring
    # round-3 additions (not in r1/r2 totals — compare per-query)
    "groupby_custom_agg", # custom Aggregation: partial-Column triplets
    "corr_matrix",        # k*(k+1)/2 aggregates in one scan
    "contamination",      # n-gram decontamination pipeline
    # round-5 additions (compare per-query across rounds, not totals)
    "merge_asof_nearest", # nearest-direction asof: dual window fill
    "text_chunks",        # map-only token-window chunking
    "text_pii_scrub",     # chained codegen regex redaction
    "text_repetition",    # staged RLE repetition stats (HOF-heavy)
    "bm25_topk",          # lexical retrieval: stats agg + map scoring
    "corpus_mix_temperature",  # one-exchange weighted mixing
    "text_classifier",    # hashed linear classifier inference (map-only)
    # round-6 additions (compare per-query across rounds, not totals)
    "arr_random_uniform", # counter-mix draw: map-only codegen
    "arr_einsum",         # N-D contraction: one fused projection
    "arr_ma_stats",       # masked filter+fold per row
    "ann_knn_join",       # LSH-band k-NN join (the r5 gate fix)
    "ufunc_pipeline",     # composed module-level ufuncs: one projection
    "tfidf_topk",         # TF-IDF retrieval: stats agg + map scoring
    "arr_nd_chunked_transpose",  # chunked-inner rechunk shuffle
    "text_span_dedup",    # CCNet span scrub: count + anti-join + rebuild
    "contamination_bloom",  # constant-size filter, exchange-free probe
    "embed_quantize",     # int8 absmax quantization: map-only HOFs
    # round-8 additions (compare per-query across rounds, not totals)
    "corpus_cluster",     # k-means: ordered Arrow assign + k·d partials
    "dedup_semantic_cells",  # SemDeDup cells over the kmeans kernel
    "ann_ivf_checked",    # IVF probe replay over the kmeans kernel
    "dedup_canonicalize", # pairs -> components -> keeper selection
    "join_q9_product_profit",  # TPC-H Q9: multi-join profit rollup
    "join_q21_sole_returns",   # TPC-H Q21: EXISTS/NOT-EXISTS self-joins
    "text_perplexity",    # unigram-LM fit + map-only scoring
    "contamination_minhash",  # fuzzy decontamination: broadcast band join
    # round-9 additions (compare per-query across rounds, not totals)
    "dedup_substring",    # ExactSubstr window scrub: stride-1 windows
    "dedup_clusters_star",  # forced-DISTRIBUTED pointer-doubling CC
    "corpus_dsir",        # DSIR importance scoring: 2 histograms + map
    # round-10 additions (compare per-query across rounds, not totals)
    "ann_pq",             # product quantization: train + encode + ADC
    "text_cms_heavy",     # count-min sketch build + map-side probe
    "text_bpe_pairs",     # BPE iteration-1 weighted pair counts
    "reduce_hll_distinct",  # portable HLL: 2^p-bounded register exchange
    "classifier_train",   # distributed logreg fit: D+2-key gradient agg
    "ann_ivfpq",          # IVF-ADC: residual PQ + per-cell ADC tables
    "reduce_hll_by_group",  # keyed HLL: groups*2^p-bounded exchange
    "text_cms_boilerplate",  # stateless per-doc heavy-token fraction
    "text_bigram_perplexity",  # interpolated bigram LM quality gate
    "reduce_quantile_hist",  # histogram-sketch quantiles: bins-bounded
    "reduce_quantile_hist_group",  # keyed: groups*bins-bounded exchange
    # round-11 additions (compare per-query across rounds, not totals)
    "corpus_pagerank",    # integer-exact power iteration on edge graph
    "corpus_domain_cap",  # per-domain cap: prefilter + bounded window
    "text_trigram_perplexity",  # KN-style trigram gate: 4 literal maps
    "graph_triangles",    # degree-oriented wedge join, ids-only
    "events_funnel",      # chained user-keyed step mins, one lazy plan
    "events_retention",   # cohort distinct counts, (user,week) collapsed
    "events_transitions", # user-keyed lag window + typed-pair count
    "assoc_rules",        # basket pair supports + broadcast item table
    "graph_ppr",          # personalized weighted power iteration
    "graph_clustering",   # cc = 2T/(d(d-1)) over oriented wedges
    "graph_kcore",        # 10 fixed peel rounds, adjacency-bounded
    "text_pmi_bigrams",   # PMI collocations: 2 counts + vocab joins
    "events_peak_concurrency",  # +1/-1 sweep on the keyless scan
    "text_length_outliers",     # per-group exact median + MAD gate
    "drift_psi",                # PSI drift gate: 2 bucket counts
    "drift_ks",                 # KS: int-exact max on keyless scan
    "drift_chi2",               # categorical mix-shift contingency
    "events_cusum",             # scaled-int CUSUM on two keyless scans
    "assoc_triples",            # Apriori L3: closure-pruned candidates
    # round-11b additions (compare per-query across rounds, not totals)
    "classifier_nb",      # NB fit (C*D-bounded count) + literal predict
    "events_ewma",        # (group,day) micro-unit agg + in-row scan
    "graph_modularity",   # community-bounded exact-int aggregates
    "graph_jaccard",      # wedge self-join common-neighbor pairs
    "embed_jl",           # map-only k x dim literal projection
    "reduce_hll_setops",  # two register tables + merged estimator
    "events_trend",       # exact-int OLS moments per group
    "quality_gate",       # 7 expectation rules in one scan + FK join
    "reduce_weighted_quantile",  # prefix-scan exact weighted quantiles
    "dedup_fuzzy_name",   # blocked levenshtein over distinct names
    "graph_bfs",          # 6-round frontier expansion, ids only
    "corpus_split",       # md5-threshold split assignment, map-only
    "ml_quantile_bucket", # exact-percentile literal CASE binning
    "dedup_incremental",  # hash anti-join delta ingestion
    "events_attribution", # one-window last-touch carry
    "ml_target_encode",   # exact micro-unit category shrinkage
    "corr_spearman",      # integer avg-ranks + driver-exact combine
    "ml_mutual_info",     # contingency cells + sorted driver fold
    "corpus_concentration",  # HHI from one bounded count
    "drift_benford",      # 9-key first-digit audit
    "reduce_gini",        # prefix-scan rank + decimal moment
    "events_anomaly",     # in-plan OLS residual top-k
    "groupby_rollup",     # Expand grouping sets, one scan
    "text_readability",   # map-only Flesch chain
    "events_session_stats",  # gap sessions + one keyed rollup
    "ab_proportion",      # 2-key exact arms + pinned z chain
    "ml_lift_table",      # decile buckets + capture fold
    "ml_auc",             # rank-form AUC on the prefix scan
    "multimodal_phash",   # Arrow decode + banded hamming pairs
    "dedup_cluster_sizes",  # CC + two bounded rollups
    "embed_pair_hist",    # sampled exact-cosine geometry bins
    "ql_topk",            # Dirichlet QL: stats agg + map scoring
    "events_theilsen",    # pairwise slopes on the bounded day series
    "reduce_robust_mean", # percentile cut + one micro-unit scan
    "text_zipf",          # wordcount + rank-ordered OLS fold
    "incremental_agg",    # partials + full-outer merge == recompute
    "corpus_negatives",   # map-only hashed partner assignment
    "events_time_to_convert",  # two keyed mins + exact percentiles
    "corpus_diff",        # id+digest full-outer reconciliation
    "groupby_nunique_skewsafe",  # salted two-phase exact distinct
    "join_salted",        # row-pure salt + replicated dim
    "cdc_apply",          # one-window MERGE INTO latest-wins
    "scd2_history",       # gaps-and-islands dimension history
    "events_rolling_wau", # pair explode x7 + exact distinct per day
    "events_top_paths",   # lead-chain trigrams + bounded count
    "events_stickiness",  # two rolling passes + one day join
    "events_error_rate",  # day-keyed (n,k) + Wilson chain
    "events_hourly_profile",  # 168-key seasonality heatmap
    # round-12 additions (compare per-query across rounds, not totals)
    "corr_spearman_binned",   # bins-bounded rank exchange escalation
    "reduce_gini_binned",     # block-mean fold over <= bins rows
    "drift_ks_binned",        # shared-grid KS, <= bins collect
    "value_counts_norm",      # normalize off the unpartitioned window
    "ml_auc_binned",          # quantized-ROC rank AUC, bins-bounded
    "ml_calibration",         # reliability cells, one bins-key agg
    "ml_ece",                 # bucket-ordered driver fold
    "dt_tz_ops",              # tz localize/convert local-hour profile
    "dt_isocalendar",         # ISO triple extraction + bounded group
    "dt_round",               # half-even epoch rounding, bucket count
    "dt_timedelta_parts",     # keyed lag + interval part arithmetic
    "ml_auc_by_group",        # group-keyed rank AUC, in-plan close
    "warehouse_skew_report",  # key-bounded count + top-k + totals
    "drift_psi_multi",        # k-feature sweep: 2+1 scans for any k
    # round-13 additions (compare per-query across rounds, not totals)
    "reduce_rowwise",         # axis=1 row-vector stats, map-only
]


def _counts(jobs: int, stages) -> dict:
    """Per-query scheduling and execution counts for the sidecar."""
    return {
        "jobs": jobs,
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "task_s": round(sum(s.run_s for s in stages), 3),
        "shuffle_write_bytes": sum(s.shuffle_write_b for s in stages),
        "shuffle_write_records": sum(s.shuffle_write_records for s in stages),
        "spill_bytes": sum(s.spill_b for s in stages),
        "input_bytes": sum(s.input_b for s in stages),
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    headline = [q for q in HEADLINE if q in set(only.split(","))] if only else HEADLINE
    from dask_spark.plans.profiler import StatusReader, checksum
    from dask_spark.queries import REGISTRY
    from dask_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM, parquet footers, and whole-stage-codegen compile by
    # running every headline query once at sf0.001 (sub-second each).
    # Generated code is cached by source, so the sf-target runs below
    # measure steady-state throughput, not one-shot JIT compilation.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    for name in headline:
        try:
            checksum(REGISTRY[name][0](spark, warm_dir)).first()
        except Exception as exc:  # warmup must never fail the bench
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)
    spark.catalog.clearCache()  # drop warmup persists before timing

    # Per-query error isolation: one broken query must never cost the
    # round its entire perf artifact — record null for failures, keep
    # timing the rest, and always emit the JSON line.
    # Counts come from the status store, read after each timed rep and
    # outside its timed window; the last rep's counts are kept.
    timings: dict[str, float | None] = {}
    counts: dict[str, dict | None] = {}
    reader = StatusReader(spark.sparkContext)
    for name in headline:
        fn, _ = REGISTRY[name]
        best, n = float("inf"), 0
        try:
            # One UNTIMED pass at the TARGET sf first: the sf0.001
            # warmup compiles different physical shapes (broadcast vs
            # SMJ, single- vs multi-split scans), so the first target-
            # sf run still pays whole-stage-codegen compile + C2
            # tiering — measured 4.8s → 2.3s → 1.0s across reps for
            # the codegen-heaviest query. The timed min-of-2 below is
            # then genuinely steady-state throughput.
            checksum(fn(spark, sf_dir)).first()
            spark.catalog.clearCache()
            for _rep in range(2):  # min-of-2: steady-state, GC-noise-resistant
                reader.mark()
                t0 = time.time()
                df = fn(spark, sf_dir)
                n = checksum(df).first()["__rows"]
                best = min(best, time.time() - t0)
                counts[name] = _counts(*reader.read())
                spark.catalog.clearCache()
            timings[name] = round(best, 3)
            print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)
        except Exception as exc:
            timings[name] = None
            counts[name] = None
            spark.catalog.clearCache()
            print(f"# {name}: FAILED — {type(exc).__name__}: {exc}",
                  file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    ok = {k: v for k, v in timings.items() if v is not None}
    total = round(sum(ok.values()), 3)
    detail = {
        "metric": "headline_queries_detail",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_failed": len(timings) - len(ok),
        "sf": sf_val,
        # local[*] runs on every core; name the count, not the glob
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
    }
    # Sidecar detail file (r16): the per-query line below overflows the
    # driver's 2000-char stdout tail at 136 queries, so PERF_r15 had
    # per_query={} / n_common=0 — the round's per-query speedups were
    # unrecoverable. Persist the same detail object to a file next to
    # bench.py so per-query comparisons survive the tail capture, plus
    # the per-query counts, which stay out of stdout (that line is
    # already too long). The stdout contract is UNCHANGED (same two
    # lines, compact line last).
    try:
        out_path = Path(__file__).resolve().parent / (
            f"bench_detail_sf{sf}_c{detail['cpus']}.json"
        )
        sidecar = {**detail, "counts": counts}
        out_path.write_text(json.dumps(sidecar, indent=1) + "\n")
    except OSError as exc:  # read-only checkout must never fail the bench
        print(f"# bench detail sidecar not written: {exc}", file=sys.stderr)
    # Detailed per-query line first (human-facing; too long for the
    # driver's tail capture at 120+ queries — BENCH_r11 parsed null).
    print(json.dumps(detail))
    # Compact driver-parsable summary LAST: no per-query dict, so the
    # line stays well inside the driver's tail-capture window.
    print(json.dumps({
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "n_failed": len(timings) - len(ok),
        "sf": sf_val,
    }))


if __name__ == "__main__":
    main()
