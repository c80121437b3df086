"""skrub_spark: a PySpark-native engine with the data-cleaning /
encoding / joining capabilities of skrub, plus LLM-scale pipeline
operators (dedup, similarity search, text analysis, multimodal
plumbing). See SURVEY.md for the full inventory."""

from . import core, selectors  # noqa: F401
from .base import SparkTransformer  # noqa: F401
from . import datasets  # noqa: F401
from .config import config_context, get_config, set_config  # noqa: F401
from .display import OptunaParamSearch, patch_display, unpatch_display  # noqa: F401
from .operators.asof import asof_join  # noqa: F401
from .operators.gapfill import time_bucket_gapfill  # noqa: F401
from .operators.packing import pack_training_chunks  # noqa: F401
from .operators.sampling import (  # noqa: F401
    deterministic_sample,
    hash_split,
    sample_to_targets,
    sample_weighted,
    stratified_sample,
)
from .operators.range_join import range_join  # noqa: F401
from .operators.repetition import (  # noqa: F401
    repetition_filter,
    repetition_stats,
)
from .operators.span_dedup import dedup_spans  # noqa: F401
from .operators.domains import (  # noqa: F401
    domain_stats,
    drop_blocked_domains,
    extract_url_domains,
)
from .functions.text import redact_pii  # noqa: F401
from .operators.salting import (  # noqa: F401
    auto_agg,
    auto_agg_with_strategy,
    auto_join,
    auto_join_with_strategy,
    salted_groupby_agg,
    salted_join,
)
from .operators.dsir import dsir_log_weight, dsir_resample, fit_dsir  # noqa: F401
from .operators.graph import (  # noqa: F401
    bfs_distances,
    k_core,
    label_propagation,
    pagerank,
    triangle_stats,
    weighted_distances,
)
from .operators.skyline import skyline2d  # noqa: F401
from .operators.spatial import grid_distance_join  # noqa: F401
from .operators.bitmap import audience_overlap, segment_bitmaps  # noqa: F401
from .operators.intervals import (  # noqa: F401
    attribution_last_touch,
    attribution_linear,
    interval_coverage,
)
from .operators.impute import impute_median  # noqa: F401
from .operators.winsorize import (  # noqa: F401
    group_quantiles,
    weighted_group_quantiles,
    histogram_report,
    quantile_clip,
    quantile_discretize,
    robust_scale_by_group,
)
from .operators.sampling import (  # noqa: F401
    oversample_balance,
    sample_token_budget,
)
from .operators.sequence import (  # noqa: F401
    autocorrelation,
    cumulative_distinct,
    event_transitions,
    ewma_smooth,
    seasonal_profile,
    sequence_anomaly,
    stl_decompose,
    twap_daily,
    window_funnel,
)
from .operators.association import (  # noqa: F401
    association_rules,
    item_cooccurrence,
)
from .report.evaluation import isotonic_calibration  # noqa: F401
from .report.experiment import cmh_stratified  # noqa: F401
from .report.survival import kaplan_meier, log_rank_test  # noqa: F401
from .report.concentration import gini_concentration  # noqa: F401
from .report.abtest import (  # noqa: F401
    ab_proportion_test,
    eb_shrunk_rates,
    mann_whitney_u,
    msprt_two_proportion,
    yuen_trimmed_test,
)
from .report.bootstrap import bootstrap_mean_ci, poisson_weight  # noqa: F401
from .report.outliers import iqr_outliers, mad_outliers  # noqa: F401
from .report.profiling import (  # noqa: F401
    candidate_keys,
    fd_profile,
    fk_audit,
    join_fanout_report,
)
from .report.trend import grouped_trend, theil_sen  # noqa: F401
from .similarity.mining import (  # noqa: F401
    hard_negatives,
    truncation_recall,
)
from .dedup.density import duplication_density, ngram_novelty  # noqa: F401
from .functions.text import kwic_snippets  # noqa: F401
from .functions.datetime import calendar_dim  # noqa: F401
from .functions.sketches import (  # noqa: F401
    hll_estimate,
    hll_merge,
    hll_registers,
    mergeable_distinct_sketches,
)
from .functions.tree_compile import (  # noqa: F401
    ensemble_margin,
    export_gbt,
    trees_to_sql,
)
from .functions.sketches import distinct_sketch, quantile_sketch  # noqa: F401
from .sources.snapshots import snapshot_diff  # noqa: F401
from .sources.layout import (  # noqa: F401
    file_skip_fraction,
    hilbert_key,
    write_hilbert,
    write_zordered,
    zorder_value,
)
from .dedup import (  # noqa: F401
    connected_components,
    dedup_exact,
    keep_best,
    dedup_minhash_pairs,
    dedup_simhash_pairs,
    deduplicate_strings,
    embedding_near_duplicates,
    minhash_buckets,
    minhash_incremental,
    minhash_near_duplicates,
    semantic_dedup,
    ngram_contamination,
    ngram_jaccard_pairs,
)
from .dedup.strings import deduplicate_strings as deduplicate  # noqa: F401
from .dedup.strings import jaro_winkler_join  # noqa: F401
from .functions.text import jaro_winkler, jaro_winkler_py  # noqa: F401
from .similarity import (  # noqa: F401
    build_ann_index,
    cosine_knn_join,
    read_ann_index,
    topk_cosine,
    topk_cosine_indexed,
    topk_cosine_ivf,
    topk_cosine_lsh,
    write_ann_index,
)
from .encoders import (  # noqa: F401
    CleanNullStrings,
    DatetimeEncoder,
    DurationToFloat,
    GapEncoder,
    MinHashEncoder,
    SimilarityEncoder,
    SquashingScaler,
    StringEncoder,
    TextEncoder,
    ToCategorical,
    ToDatetime,
    ToFloat,
    ToStr,
    to_datetime,
)
from .operators.agg_joiner import AggJoiner, AggTarget, MultiAggJoiner  # noqa: F401
from .operators.interpolation_joiner import (  # noqa: F401
    InterpolationJoiner,
    interpolation_join,
)
from .plans import (  # noqa: F401
    NotFittedError,
    DataOp,
    ParamSearch,
    RandomizedParamSearch,
    SkrubLearner,
    X,
    as_data_op,
    choose_bool,
    choose_float,
    choose_from,
    choose_int,
    cross_validate,
    deferred,
    eval_mode,
    optional,
    var,
    y,
)
from .report import TableReport, column_associations  # noqa: F401
from .operators.cleaner import Cleaner, DropSimilar, DropUninformative  # noqa: F401
from .operators.joiner import Joiner, fuzzy_join  # noqa: F401
from .operators.select_cols import (  # noqa: F401
    ApplyToCols,
    ApplyToEachCol,
    ApplyToSubFrame,
    Drop,
    DropCols,
    SelectCols,
)
from .sources.bucketing import (  # noqa: F401
    bucketed_join,
    join_is_shuffle_free,
    write_bucketed,
)
from .operators.session_encoder import (  # noqa: F401
    SessionEncoder,
    session_features,
    sessionize,
)
from .operators.html_extract import (  # noqa: F401
    extract_main_content,
    html_extract,
)
from .operators.language_id import (  # noqa: F401
    fit_language_id,
    score_language,
)
from .operators.normalize import (  # noqa: F401
    normalize_text,
    normalize_text_column,
)
from .encoders.gap_encoder import (  # noqa: F401
    fit_gap_frozen,
    gap_topics_frozen,
)
from .operators.forecast import (  # noqa: F401
    cusum_monitor,
    holt_winters_forecast,
    hw_recurrence,
)
from .operators.winsorize import quantile_ci  # noqa: F401
from .report.datasheet import (  # noqa: F401
    corpus_datasheet,
    datasheet_html,
)
from .operators.lm_filter import (  # noqa: F401
    KNNgramLM,
    score_kn_ngram_perplexity,
    train_kn_ngram,
)
from .operators.unigram_lm import (  # noqa: F401
    UnigramModel,
    segment_text,
    train_unigram,
    unigram_token_stats,
)
from .session import (  # noqa: F401
    codegen_compiles,
    fan_out,
    get_session,
    release,
)
from .table_vectorizer import TableVectorizer, tabular_pipeline  # noqa: F401

# round 12
from .dedup.strings import damerau_levenshtein_join  # noqa: F401
from .functions.text import (  # noqa: F401
    damerau_levenshtein,
    iban_valid,
    luhn_valid,
    redact_pii_checksum,
)
from .operators.arena import bradley_terry  # noqa: F401
from .operators.lm_filter import kn_from_frozen, kn_to_frozen  # noqa: F401
from .operators.packing import bfd_pack, packing_report  # noqa: F401
from .operators.sampling import (  # noqa: F401
    reservoir_sample,
    weighted_reservoir_sample,
)
from .operators.sft import preference_pairs  # noqa: F401
from .report.agreement import (  # noqa: F401
    adjusted_rand_index,
    cohen_kappa,
    fleiss_kappa,
)
from .report.texteval import bleu_corpus, rouge_n  # noqa: F401
from .streaming.ops import streaming_decontaminate  # noqa: F401

# round 12, second session
from .operators.collocations import skipgram_pairs  # noqa: F401
from .operators.lm_filter import rho_select  # noqa: F401
from .operators.sft import best_of_n_curve  # noqa: F401
from .report.abtest import ab_power_report  # noqa: F401
from .report.agreement import (  # noqa: F401
    krippendorff_alpha,
    pairwise_cluster_eval,
    rasch_prox,
)
from .report.drift import wasserstein_1d  # noqa: F401
from .report.evaluation import (  # noqa: F401
    fairness_report,
    label_issues,
)
from .report.experiment import (  # noqa: F401
    aipw_ate,
    ipw_ate,
    uplift_curve,
)
from .report.privacy import (  # noqa: F401
    dp_histogram,
    t_closeness_report,
)
from .report.survival import aalen_johansen  # noqa: F401

__version__ = "0.1.0"
