"""Benchmark harness: runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line of totals.

Each query's timings and Spark layer record (jobs, tasks, job time,
scheduling gap, shuffle, spill) per leg go to BENCH_detail_c{cpus}.json
next to this script; docs/BENCH_NOTES.md describes the fields.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import urllib.error

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.sparktrace import Tracer  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: core joins/aggs + the LLM-pipeline operators.
HEADLINE = [
    "pricing_summary",
    "top_orders",
    "agg_join_customer_orders",
    "multi_agg_join",
    "agg_target_events",
    "datetime_features",
    "fuzzy_join_customer_supplier",
    "dedup_exact",
    "token_stats",
    "quality_scores",
    "language_id",
    "repetition_filter",
    "pii_redaction",
    "span_dedup",
    "span_dedup_w3",
    "substring_dedup",
    "domain_stats",
    "curation_pipeline",
    "pretraining_pipeline",
    "lm_perplexity_filter",
    "boilerplate_removal",
    "mixture_sample",
    "bpe_token_stats",
    "similarity_topk",
    "session_stats",
    "ngram_jaccard_pairs",
    "embedding_dedup_pairs",
    "minhash_dedup_pairs",
    "simhash_dedup_pairs",
    "revenue_by_region",
    "top_orders_per_customer",
    "windowed_counts",
    "session_windows",
    "interpolation_join",
    "squashing_scaler",
    "one_hot_mktsegment",
    "similarity_encoder_region",
    "json_props",
    "rollup_revenue",
    "acctbal_percentiles",
    "customers_without_orders",
    "orders_moving_avg",
    "pivot_segment_nation",
    "small_quantity_parts",
    "centroid_per_label",
    "text_encoder_embeddings",
    "fuzzy_join_numeric",
    "column_associations",
    "asof_join",
    "funnel_conversion",
    "retention_cohorts",
    # knn_join (exact mode) is the O(n²) oracle baseline — 30s at
    # sf0.1; the bucketed scale mode is what belongs in a bench:
    "knn_join_lsh",
    "forecast_revenue",
    "order_priority",
    "volume_shipping",
    "market_share",
    "returned_items",
    "promo_revenue",
    "discounted_revenue",
    "customer_distribution",
    "top_supplier",
    "large_volume_customers",
    "sales_opportunity",
    "range_join_incidents",
    "gapfill_hourly",
    "hash_split",
    "stratified_sample",
    "pack_chunks",
    "training_pipeline",
    "contamination",
    "decontaminate",
    "skew_salted_agg",
    "topk_quantized",
    "incremental_near_dedup",
    "semantic_dedup",
    "url_canonical",
    "weighted_sample",
    "curation_funnel",
    # r7 additions
    "quality_classifier_scores",
    "quality_classifier_filter",
    "topk_pq",
    "topk_lsh_frozen",
    "semantic_dedup_exact",
    "bpe_stats_frozen",
    "unigram_stats_frozen",
    "lm_perplexity_kn",
    "corpus_datasheet",
    "msprt_monitor",
    "eb_shrunk_rates",
    "holt_winters",
    "cusum_monitor",
    "quantile_ci",
    "log_rank",
    "cmh_stratified",
    "yuen_test",
    "tokenizer_fertility",
    "unigram_packing",
    "isotonic_quality",
    # r11 additions
    "doremi_weights",
    "doremi_mixture",
    "als_topk_frozen",
    "lm_perplexity_kn5",
    "incremental_join",
    "ccnet_buckets",
    "unimax_allocation",
    "kcenter_coreset",
    "attribution_time_decay",
    "psm_pairs",
    "bfd_packing",
    "pii_checksum",
    "preference_pairs",
    "kn_frozen",
    "rouge_eval",
    "bleu_corpus",
    "reservoir_sample",
    "weighted_reservoir",
    "dl_name_pairs",
    "bradley_terry",
    "cohen_kappa",
    "fleiss_kappa",
    "clustering_ari",
    "krippendorff_alpha",
    "uplift_qini",
    "ipw_ate",
    "t_closeness",
    "dp_histogram",
    "rho_selection",
    "irt_rasch",
    "ab_power",
    "aipw_ate",
    "skipgram_pairs",
    "drift_wasserstein",
    "best_of_n",
    "fairness_report",
    "label_issues",
    "linkage_eval",
    "competing_risks",
    "string_encoder_frozen",
    "incremental_embedding_dedup",
    "scored_pipeline",
    # r8 additions (snapshot_diff excluded like snapshot_ingest:
    # sink-write cost dominates)
    "dsir_weights",
    "dsir_resample",
    "domain_pagerank",
    "interpolation_gbt_frozen",
    "interpolation_clf_frozen",
    "rank_gated_corpus",
    "cluster_balanced_sample",
    "token_cardinality_sketch",
    "value_quantile_sketch",
    "zorder_keys",
    "trustrank_domains",
    "pagerank_weighted",
    "numeric_associations",
    "spearman_associations",
    "topk_opq",
    # r8 late additions (bm25_indexed excluded like snapshot_ingest:
    # index-write cost dominates; its timing lives in the battery)
    "record_linkage_scores",
    "record_linkage_resolved",
    "expectations_audit",
    "expectations_quarantine",
    "bm25_search",
    "cdc_merge",
    "scd2_history",
    "hybrid_search_rrf",
    "token_freq_cms",
    "drift_psi",
    "scd2_lookup",
    "temperature_mixture",
    "key_skew_report",
    "document_chunks",
    "hits_domains",
    "quality_percentiles",
    # r8 late-session additions (compact_shards excluded like
    # snapshot_ingest: sink-write cost dominates; its timing lives
    # in the correctness battery)
    "k_anonymity_audit",
    "k_suppression",
    "drift_ks",
    "readability",
    "keywords_tfidf",
    "source_similarity",
    "zipf_fit",
    "lpa_communities",
    "outlink_hostgraph",
    "domain_cap",
    "mutual_information",
    "quantile_clip",
    "group_sample_fixed_n",
    "adaptive_join",
    "quantile_bins",
    "classification_eval",
    "calibration_eval",
    "regression_eval",
    # r8 final-session additions (streaming_heavy_hitters excluded
    # with the other streaming_* ops: state-store fixed overhead)
    "event_transitions",
    "changepoint_daily",
    "duplication_density",
    "ranking_eval",
    "triangle_stats",
    "mad_outliers",
    "benford_audit",
    "target_encode",
    "target_encode_loo",
    "woe_iv",
    "association_rules",
    "sequence_anomaly",
    "k_core",
    "window_funnel",
    "seasonal_profile",
    "grouped_trend",
    "incremental_agg",
    "autocorrelation",
    # r8 third-session additions
    "survival_km",
    "gini_concentration",
    "theil_sen_trend",
    "skyline_parts",
    "ab_test_report",
    "fd_profile",
    "candidate_keys",
    "bfs_distances",
    "ngram_novelty",
    "unpivot_metrics",
    "rfm_segments",
    "ewma_smooth",
    "spatial_join_grid",
    "audience_overlap",
    "cube_revenue",
    "item_cooccurrence",
    "impute_median",
    "hard_negatives",
    "oversample_balance",
    "latency_sla",
    "join_fanout_report",
    "histogram_report",
    "interval_coverage",
    "attribution_last_touch",
    "mrl_recall",
    "token_budget_sample",
    "sketch_union_merge",
    "calendar_dim",
    "null_safe_join",
    "customer_set_ops",
    "kwic_snippets",
    "iqr_outliers",
    "twap_daily",
    "top_paths",
    "ltv_curve",
    "weighted_distances",
    # --- round 9 ---
    "html_extract",
    "language_id_learned",
    "gap_encoder_frozen",
    "adaptive_agg",
    "normalize_text",
    "more_like_this",
    "winnow_fingerprints",
    "winnowing_pairs",
    "script_profile",
    "hilbert_keys",
    "attribution_linear",
    "cumulative_users",
    "fk_orphans",
    "entity_counts",
    "stl_daily",
    "mwu_test",
    "drift_chi2",
    # --- round 9, third session ---
    "bloom_semi_join",
    "bloom_anti_join",
    "mutual_best_match",
    "sorted_neighborhood",
    "permutation_test",
    "conformal_intervals",
    "pmi_collocations",
    "link_prediction",
    "degree_assortativity",
    "rolling_hampel",
    "term_burstiness",
    "compression_signal",
    "entity_comention",
    "seasonal_backtest",
    "cross_correlation",
    "quantile_normalize",
    "group_mean_fdr",
    "markov_attribution",
    "sentence_stats",
    "point_in_time_features",
    "cuped_lift",
    "covariate_balance",
    "did_estimate",
    "nelson_aalen",
    "json_profile",
    "churn_labels",
    "funnel_latency",
    "ipf_raking",
    "fightin_words",
    "neyman_allocation",
    "sliding_distinct_hll",
    "prefix_completions",
    "conversation_stats",
    "sft_turn_dedup",
    "preference_bias",
    "gains_table",
    "trimmed_means",
    "concordance_ccc",
    "jackknife_ratio",
    "fulfillment_latency",
    # streaming_spikes excluded with the other streaming_* ops
    # (state-store fixed overhead); als_recommendations excluded
    # like the other MLlib fits (iterative fit wall time, not a
    # query-engine throughput signal — timing lives in the battery).
    # pdf_text_stats / mime_sniff: payload SYNTHESIS (python
    # encoder loops) dominates like the image/audio queries —
    # timings live in CORRECTNESS_full_*.json.
    # dedup_keep_best re-runs the whole minhash pipeline
    # (composition re-run, excluded like dup_cluster_report).
    # dup_cluster_report re-runs the whole minhash_canonical
    # pipeline (timed in the battery) — excluded like the other
    # composition re-runs.
    # streaming_cdc: state-store fixed overhead (see streaming note);
    # warc_source: fixture synthesis dominates (see multimodal note)
    # excluded by design: bucketed_join_revenue / csv_source /
    # orc_source / jsonl_gz_source / topk_ivf / snapshot_ingest
    # (sink-write cost dominates, not a throughput signal); streaming_* (state-store fixed overhead,
    # see note below); image_decode_stats / image_near_dup /
    # audio_near_dup / video_frame_stats (payload SYNTHESIS — python
    # codec encode loops — dominates wall time, so they'd measure
    # fixture generation, not the engine; their timings live in
    # CORRECTNESS_full_*.json).
    # streaming_dedup runs in the correctness battery but not here:
    # its wall time is state-store/checkpoint fixed overhead (19s for
    # 5000 rows), not a throughput signal at bench scale.
]


def scale_demos(spark) -> dict:
    """Paired A/B timings proving the scale techniques pay off.

    1. Planted-hot-key join (10M-row fact, 70% of rows on ONE key,
       broadcast disabled so the join must shuffle): naive
       sort-merge (skew split off) vs AQE skew-join split vs explicit
       salting (operators/salting.py). All three legs compute the
       same aggregate and are asserted row-identical.
    2. Bucketed join on the real sf tables: plain shuffle join vs
       zero-Exchange bucketed read (write-time shuffle untimed, as in
       production where the fact table is written bucketed ONCE and
       joined many times).
    """
    from pyspark.sql import functions as F

    from skrub_spark.operators.salting import salted_join
    from skrub_spark.sources import load_table
    from skrub_spark.sources.bucketing import (
        bucketed_join,
        join_is_shuffle_free,
        write_bucketed,
    )

    out: dict[str, float] = {}

    def timed(tag, df):
        t0 = time.time()
        n = df.count()
        out[tag] = round(time.time() - t0, 3)
        print(f"# demo {tag}: {out[tag]:.2f}s ({n} rows)", file=sys.stderr)
        return n

    def with_conf(skew_on, fn):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled",
            "true" if skew_on else "false",
        )
        try:
            return fn()
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    # --- 1. skewed join ---
    n_fact, n_dim, hot = 10_000_000, 200_000, 0.7
    fact = spark.range(n_fact).select(
        F.when(F.rand(7) < hot, F.lit(0))
        .otherwise(F.pmod(F.col("id"), F.lit(n_dim)))
        .alias("k"),
        (F.col("id") % 997).cast("double").alias("v"),
    )
    dim = spark.range(n_dim).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("w")
    )

    def agg(j):
        return j.groupBy("w").agg(F.sum("v").alias("sv"))

    n1 = with_conf(False, lambda: timed("skew_join_naive_s", agg(fact.join(dim, "k"))))
    n2 = with_conf(True, lambda: timed("skew_join_aqe_s", agg(fact.join(dim, "k"))))
    n3 = with_conf(
        False, lambda: timed("skew_join_salted_s", agg(salted_join(fact, dim, "k")))
    )
    assert n1 == n2 == n3, (n1, n2, n3)

    # --- 2. bucketed join vs plain shuffle join ---
    lineitem = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice"
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    tag = "".join(c if c.isalnum() else "_" for c in SF_DIR.strip("/"))
    tl, tr = f"bench_li_{tag}", f"bench_ord_{tag}"
    write_bucketed(lineitem, tl, "orderkey", n_buckets=16, sort_cols="orderkey")
    write_bucketed(orders, tr, "orderkey", n_buckets=16, sort_cols="orderkey")

    def agg2(j):
        return j.groupBy("o_orderpriority").agg(
            F.sum("l_extendedprice").alias("rev")
        )

    n4 = with_conf(
        False, lambda: timed("plain_join_s", agg2(lineitem.join(orders, "orderkey")))
    )
    bj = bucketed_join(spark, tl, tr, "orderkey")
    assert join_is_shuffle_free(bj), "bucketed join plan has an Exchange"
    n5 = with_conf(False, lambda: timed("bucketed_join_s", agg2(bj)))
    assert n4 == n5, (n4, n5)

    # --- 3. LLM dedup at 40x the battery corpus: 200k synthetic docs
    # (40-word texts, JVM-synthesized — no python in the data path),
    # 4000 planted duplicate pairs. Asserts the MinHash-LSH pipeline
    # returns exactly the planted pairs at this scale and records the
    # wall time — the demo the 100 TB claim rests on: gram explode ->
    # 64 double-hashed min aggs -> banding -> bucket-capped pair
    # expansion -> exact verify, all shuffle-bounded.
    from skrub_spark.dedup.minhash import dedup_minhash_pairs

    n_docs = 200_000
    base = F.when(F.col("id") % 50 == 1, F.col("id") - 1).otherwise(F.col("id"))
    words = [
        F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(base, F.lit(j)), F.lit(5000)).cast("string"),
        )
        for j in range(40)
    ]
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", *words).alias("text")
    )
    t0 = time.time()
    n_pairs = dedup_minhash_pairs(
        docs, "text", "doc_id", jaccard_threshold=0.8
    ).count()
    out["minhash_200k_docs_s"] = round(time.time() - t0, 3)
    print(
        f"# demo minhash_200k_docs: {out['minhash_200k_docs_s']:.2f}s "
        f"({n_pairs} pairs, {n_docs / out['minhash_200k_docs_s']:.0f} docs/s)",
        file=sys.stderr,
    )
    assert n_pairs == n_docs // 50, n_pairs

    # --- 4. learned quality scoring at 40x the battery corpus (r7):
    # the same 200k JVM-synthesized docs scored with the FROZEN
    # classifier — one token explode + broadcast weight join +
    # map-side-combined per-doc mean + sigmoid. This is the
    # map-shaped stage-0 a FineWeb-style pipeline runs over every
    # crawl document, so its docs/s is the number the 100 TB claim
    # rests on for the learned-filter family.
    from skrub_spark._frozen import QUALITY_MODEL
    from skrub_spark.operators.quality_classifier import score_quality

    t0 = time.time()
    qstats = (
        score_quality(docs, QUALITY_MODEL)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("quality_score").alias("lo"),
            F.max("quality_score").alias("hi"),
        )
        .first()
    )
    out["quality_score_200k_docs_s"] = round(time.time() - t0, 3)
    print(
        f"# demo quality_score_200k_docs: "
        f"{out['quality_score_200k_docs_s']:.2f}s "
        f"({qstats['n']} docs, "
        f"{n_docs / out['quality_score_200k_docs_s']:.0f} docs/s)",
        file=sys.stderr,
    )
    assert qstats["n"] == n_docs, qstats
    # sigmoid saturates to exactly 1.0 in double precision past
    # margin ~36, so the upper bound is inclusive
    assert 0.0 < qstats["lo"] <= qstats["hi"] <= 1.0, qstats

    # --- 5. DSIR selection at 40x the battery corpus (r8): the same
    # 200k JVM-synthesized docs importance-weighted with the FROZEN
    # ratio table (explode + broadcast join + per-doc sum) and the
    # 10k-doc Gumbel-top-k drawn as a distributed TakeOrdered — the
    # data-selection pass a DoReMi/DSIR-style pipeline runs over
    # every crawl document.
    from skrub_spark._frozen import DSIR_MODEL
    from skrub_spark.operators.dsir import dsir_resample

    t0 = time.time()
    n_sel = dsir_resample(docs, DSIR_MODEL, 10_000).count()
    out["dsir_select_200k_docs_s"] = round(time.time() - t0, 3)
    print(
        f"# demo dsir_select_200k_docs: "
        f"{out['dsir_select_200k_docs_s']:.2f}s "
        f"({n_docs / out['dsir_select_200k_docs_s']:.0f} docs/s)",
        file=sys.stderr,
    )
    assert n_sel == 10_000, n_sel

    # --- 6. PageRank at a 1M-edge host graph (r8): 100k hosts, 10
    # deterministic out-links each, 3 fixed-point iterations — one
    # ranks⋈edges shuffle + one map-side-combined sum per iteration,
    # the shape that carries to the ~10^9-edge Common Crawl host
    # graph. Asserts total mass stays within the damped bound.
    from skrub_spark.operators.graph import SCALE, pagerank

    n_hosts = 100_000
    edges_big = (
        spark.range(n_hosts * 10)
        .select(
            (F.col("id") % n_hosts).alias("src"),
            (
                F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(n_hosts))
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    t0 = time.time()
    pr_stats = pagerank(edges_big, n_iter=3).agg(
        F.count(F.lit(1)).alias("n"), F.sum("rank_fp").alias("mass")
    ).first()
    out["pagerank_1m_edges_s"] = round(time.time() - t0, 3)
    print(
        f"# demo pagerank_1m_edges: {out['pagerank_1m_edges_s']:.2f}s "
        f"({pr_stats['n']} nodes, "
        f"{10 * n_hosts / out['pagerank_1m_edges_s']:.0f} edges/s/iter x 3)",
        file=sys.stderr,
    )
    # floor-division losses only shrink mass; the (1-d) base floors it
    assert 0 < pr_stats["mass"] <= pr_stats["n"] * SCALE, pr_stats

    # --- 7. Z-order layout (r8): 200k rows written three ways, then
    # the parquet-footer skip fraction for single-dimension range
    # predicates — the stats-pruning decision a reader makes. Linear
    # sort prunes only its own column; the z-curve prunes BOTH
    # (at 100 TB: reading ~25% of files instead of 100% for the
    # dimension the sort didn't cover).
    import tempfile

    from skrub_spark.sources.layout import (
        file_skip_fraction,
        write_zordered,
    )

    zbase = tempfile.mkdtemp(prefix="skrub_bench_zorder_")
    zdf = spark.range(200_000).select(
        F.col("id").alias("x"),
        F.pmod(F.xxhash64("id"), F.lit(100_000)).cast("double").alias("y"),
    )
    zdf.repartitionByRange(16, "x").sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(zbase + "/sortx")
    t0 = time.time()
    write_zordered(
        zdf, zbase + "/zord", {"x": (0, 200_000), "y": (0, 100_000)},
        n_files=16,
    )
    out["zorder_write_200k_s"] = round(time.time() - t0, 3)
    px, py = {"x": (10_000, 20_000)}, {"y": (50_000, 55_000)}
    out["zorder_skip_x"] = round(file_skip_fraction(zbase + "/zord", px), 3)
    out["zorder_skip_y"] = round(file_skip_fraction(zbase + "/zord", py), 3)
    sortx_y = file_skip_fraction(zbase + "/sortx", py)
    print(
        f"# demo zorder: write {out['zorder_write_200k_s']:.2f}s; "
        f"skip x={out['zorder_skip_x']:.2f} y={out['zorder_skip_y']:.2f} "
        f"(linear sort-by-x skips y-predicate files: {sortx_y:.2f})",
        file=sys.stderr,
    )
    assert out["zorder_skip_x"] >= 0.5 and out["zorder_skip_y"] >= 0.5
    assert sortx_y == 0.0

    # --- 8. Bloom runtime-filter join reduction (r9c): 10M-row fact
    # semi-joined to a 500k-key dim (too many keys to broadcast as
    # ROWS; the bitset is <=512KB) in the sort-merge regime (both
    # broadcast paths disabled, incl. AQE's). The scale metric is
    # ROWS ENTERING THE EXCHANGE: naive shuffles all 10M fact rows,
    # bloom_semi_join drops ~99.4% map-side first
    # (operators/semi_join.py). Wall times ride along for honesty —
    # on local[32] tmpfs shuffle the legs are near parity (shuffle
    # IO isn't the local bottleneck); on a network-shuffle cluster
    # the rows-shuffled ratio IS the cost ratio. Legs asserted
    # row-identical.
    from skrub_spark.functions.bloom import (
        bloom_attach, bloom_maybe_contains, bloom_size_bits,
        build_bloom_bits,
    )
    from skrub_spark.operators.semi_join import bloom_semi_join

    payload = F.concat_ws(
        "",
        *[
            F.md5(F.concat(F.col("id").cast("string"), F.lit(i)))
            for i in range(4)
        ],
    ).alias("payload")
    bf_fact = spark.range(10_000_000).select(
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(100_000_000)).alias("k"),
        payload,
    )
    bf_dim = spark.range(500_000).select(
        F.pmod(F.xxhash64("id", F.lit(9)), F.lit(100_000_000)).alias("k")
    ).distinct()

    def no_bcast(fn):
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            return with_conf(False, fn)
        finally:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    n6 = no_bcast(
        lambda: timed(
            "semi_join_naive_s", bf_fact.join(bf_dim, "k", "left_semi")
        )
    )
    n7 = no_bcast(
        lambda: timed(
            "semi_join_bloom_s",
            bloom_semi_join(bf_fact, bf_dim, "k", how="semi"),
        )
    )
    assert n6 == n7 and n6 > 0, (n6, n7)
    m_bits = bloom_size_bits(500_000)
    bits = build_bloom_bits(bf_dim, "k", m_bits)
    pre_rows = (
        bloom_attach(bf_fact, bits)
        .where(
            bloom_maybe_contains(
                F.col("k"), F.col("__bloom_bits"), m_bits
            )
        )
        .count()
    )
    out["semi_join_rows_shuffled_naive"] = 10_000_000
    out["semi_join_rows_shuffled_bloom"] = pre_rows
    print(
        f"# demo bloom_semi_join: exchange input 10,000,000 -> "
        f"{pre_rows} rows ({10_000_000 / max(pre_rows, 1):.0f}x "
        f"shuffle reduction)",
        file=sys.stderr,
    )
    assert pre_rows < 500_000
    return out


class _BenchTracer(Tracer):
    """``Tracer`` over a run longer than the UI store keeps.

    Past ``spark.ui.retainedStages`` the store evicts finished stages
    oldest completion first, and skipped stages (no completion time)
    go first of all, even the current query's. While one query runs
    far fewer stages than the limit (1000 by default), an evicted
    stage id therefore names a skipped stage, which ran no tasks."""

    def _get(self, path: str):
        try:
            return super()._get(path)
        except urllib.error.HTTPError as e:
            if e.code == 404 and path.startswith("/stages/"):
                return []
            raise


def main() -> None:
    from skrub_spark import codegen_compiles, get_session, release
    from skrub_spark.queries import queries

    spark = get_session(app_name="skrub_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = queries()
    # warm the JVM + parquet footers with one cheap action
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()
    # UNTIMED warm-up at sf0.001: run every headline query once on the
    # tiny dataset so the C2 JIT has compiled the engine's own code
    # paths before timing. Rationale: the engine is designed for
    # 100 TB jobs where one-time compile cost amortizes to zero; a
    # per-query first-run measurement at sf0.1 is ~70% JIT (measured:
    # ngram_jaccard 6.8s first run vs 0.9-1.2s steady state on
    # identical data), i.e. it benchmarks the JVM compiler, not the
    # query plans. Most generated classes do NOT carry over: the 300
    # queries generate more than the codegen cache holds, and sf0.1
    # plans differ from sf0.001 ones, so one 4-core sf0.1 timed leg
    # still compiled 3670 classes (in 254 queries) with get_session's
    # 1000-entry cache and 5342 (in 280) with Spark's default 100; see
    # each record's `compiles`. The warm-up uses DIFFERENT (smaller)
    # data, so no result rows or cached partitions carry into the
    # timed runs.
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001"
    )
    if os.path.isdir(warm_dir):
        t0 = time.time()
        for name in HEADLINE:
            try:
                qs[name](spark, warm_dir).count()
            except Exception as e:  # noqa: BLE001
                print(f"# warmup {name} failed: {e}", file=sys.stderr)
        release(spark)
        print(
            f"# untimed sf0.001 warm-up pass: {time.time() - t0:.1f}s",
            file=sys.stderr,
        )
    # r11 (VERDICT r10 #5): this box swings ±15% between runs, which
    # made every >1.4x mover ambiguous and cost two rounds of
    # re-litigating noise. The committed bench pair therefore runs
    # SPARK_GRAFT_BENCH_LEGS legs (3 for the committed artifacts)
    # and reports the per-query MEDIAN; the raw legs land in
    # BENCH_detail_c{cpus}.json. Default stays 1 leg so the driver's
    # per-round run fits its timeout.
    legs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_LEGS", "1")))
    tracer = _BenchTracer(spark)
    layers: dict[str, list[dict]] = {n: [] for n in HEADLINE}
    for leg in range(legs):
        for name in HEADLINE:
            compiled = codegen_compiles(spark)
            group = tracer.begin(name)
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            build = time.time() - t0
            n = df.count()
            wall = time.time() - t0
            tracer.end()
            compiled = codegen_compiles(spark) - compiled
            # queries persist/checkpoint their own branch points
            # (tfidf tf, LM count frames, contingency cells); across
            # ~250 sequential queries those blocks accumulate and
            # LRU-thrash executor memory, inflating LATE queries by
            # 2-3x (r10 probe). Each query runs once per leg, so
            # dropping its cache and local-checkpoint blocks after
            # timing costs nothing and isolates measurements.
            release(spark)
            # the REST reads run here, outside every timed interval
            spark_layer = tracer.collect(group)
            rec = {
                "wall_s": wall,
                "build_s": build,
                "rows": n,
                "compiles": compiled,
                **spark_layer,
                "gap_s": wall - spark_layer["job_s"],
            }
            layers[name].append({k: round(v, 3) for k, v in rec.items()})
            print(
                f"# [{leg + 1}/{legs}] {name}: {wall:.2f}s ({n} rows, "
                f"{rec['jobs']} jobs, gap {rec['gap_s']:.2f}s)",
                file=sys.stderr,
            )
    raw_legs = {n: [r["wall_s"] for r in recs] for n, recs in layers.items()}
    timings = {
        name: round(statistics.median(ts), 3) for name, ts in raw_legs.items()
    }

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    cpus = spark.sparkContext.defaultParallelism
    demos = scale_demos(spark)
    total = round(sum(timings.values()), 3)
    detail_name = f"BENCH_detail_c{cpus}.json"
    try:
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), detail_name
        )
        with open(detail_path, "w") as fh:
            json.dump(
                {
                    "metric": "headline_queries_total_runtime",
                    "value": total,
                    "unit": "sec",
                    "queries": timings,
                    "legs": legs,
                    "raw_legs": raw_legs,
                    "layers": layers,
                    "scale_demos": demos,
                    "sf": sf_val,
                    "cpus": cpus,
                },
                fh,
                indent=1,
            )
    except OSError as e:  # noqa: BLE001
        print(f"# could not write {detail_name}: {e}", file=sys.stderr)
    # The driver parses only a ~2000-char stdout tail, so stdout is
    # this one compact line; the per-query numbers live in the detail
    # file.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "sf": sf_val,
                "cpus": cpus,
                "detail": detail_name,
            }
        )
    )


if __name__ == "__main__":
    main()
