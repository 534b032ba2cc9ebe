"""Fixed-seed subset of the adversarial fuzz harnesses, in-suite.

tools/fuzzcheck.py and tools/fuzzcheck_events.py found 11 latent
cross-engine bugs that the real testdata can never trigger (it
is pure ASCII with no empty docs and no edge timestamps) — but they
only ran when remembered. This pins a contract-heavy subset into the
default gate so the machinery fires on every commit; the full sweeps
remain the ad-hoc tools. Comparator: the SAME driver-faithful path as
tools/diffcheck.py (fetchdf/toPandas + type-identity + full-precision
floats).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools import fuzz  # noqa: E402
from tools.fuzz import run_fuzz  # noqa: E402

# contract-heavy picks: tokenization/case-fold, cumsum
# packing, array HOFs on empty docs (two past crashes),
# dedup hashing, percentile/window arithmetic, PII regex classes
_DOC_SUBSET = {
    "flatmap_wordcount", "text_clean_normalize", "text_repetition_quality",
    "text_pack_sequences", "text_bigram_lm", "text_chunk_windows",
    "text_winsorize_p90", "text_char_diversity", "text_pii_scrub",
    "text_keyword_scan", "dedup_paragraph_exact", "text_stratified_sample",
}

# edge-timestamp picks: gaps-and-islands (interval merge), epoch
# division (resample), windows over sparse calendars, decay sums
_EVENT_SUBSET = {
    "events_interval_merge", "events_anomaly_zscore",
    "events_resample_linear", "events_markov_transitions",
    "events_heatmap_hour_dow", "events_alert_debounce",
    "events_changepoint_cusum", "events_retention_cohorts",
    "events_feature_store_pit", "events_interval_overlap_join",
}


def test_fuzz_documents_subset(spark):
    path = fuzz.corpus("documents")
    con = fuzz.connect(path, {"documents"})
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, {"documents"}, only=_DOC_SUBSET, quiet=True
    )
    assert not failures, "\n".join(failures)
    assert n_ok + n_skip == len(_DOC_SUBSET), (n_ok, n_skip)
    assert n_ok >= len(_DOC_SUBSET) - 2, f"too many skips: {n_skip}"


# NULLs in every nullable column + duplicate/skewed keys + edge
# prices: the corpus that found the null-ordering class (Spark ASC
# = NULLS FIRST, DuckDB = NULLS LAST), the collect_list-skips-NULLs
# window seam, the CSV NULL-vs-'' merge, and the NULL-map-key crash
_ORD_SUBSET = {
    "window_running_sum", "window_rank_variants", "window_ntile_quartiles",
    "window_first_last_nth_surface", "scd2_status_history",
    "orders_ses_level_fold", "orders_rolling_median_7d", "orders_ks_drift",
    "sketch_quantile_bins_grouped", "csv_gzip_read_agg", "map_ops_surface",
}


def test_fuzz_orders_subset(spark):
    path = fuzz.corpus("orders")
    con = fuzz.connect(path, {"orders"})
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, {"orders"}, only=_ORD_SUBSET, quiet=True
    )
    assert not failures, "\n".join(failures)
    assert n_ok + n_skip == len(_ORD_SUBSET), (n_ok, n_skip)
    assert n_ok >= len(_ORD_SUBSET) - 2, f"too many skips: {n_skip}"


# NULL FKs + orphaned FKs + NULL measures across a TPC-H-ish
# micro-warehouse: the corpus that found the fold-over-NULL crashes
# (py_fold/fold_py now drop absent elements), the Alg-sum-seed-vs-
# SQL-NULL seam, the eqNullSafe-vs-`=` oracle divergence, the struct-
# ordering NULL placement, and the sample-vs-population skewness gap
_JOIN_SUBSET = {
    "fold_product_user_alg", "fold_histogram_pandas_udaf",
    "fold_reduce_option", "fold_minmax_struct_ordering",
    "comprehension_composite_theta", "array_hof_surface",
    "agg_stats_moments", "graph_preprocessing_edges",
    "lineitem_ship_latency", "lineitem_skyline_price_qty",
    "part_croston_intermittent", "q5_local_supplier_volume",
}


def test_fuzz_joins_subset(spark):
    path = fuzz.corpus("joins")
    con = fuzz.connect(path, fuzz.JOIN_TABLES)
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, set(fuzz.JOIN_TABLES),
        only=_JOIN_SUBSET, quiet=True
    )
    assert not failures, "\n".join(failures)
    assert n_ok + n_skip == len(_JOIN_SUBSET), (n_ok, n_skip)
    assert n_ok >= len(_JOIN_SUBSET) - 2, f"too many skips: {n_skip}"


# zero-norm / duplicate / degenerate vectors: the corpus class that
# found 13 DIVIDE_BY_ZERO crashes — similarity ops must gate
# zero vectors identically on both engines
_EMB_SUBSET = {
    "ann_topk_cosine", "ann_lsh_topk", "embedding_neardup",
    "embedding_normalize", "embedding_semdedup_prune", "ml_knn_classify",
    "embedding_quantize_int8", "ann_recall_eval",
}


def test_fuzz_embeddings_subset(spark):
    path = fuzz.corpus("embeddings")
    con = fuzz.connect(path, {"embeddings"})
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, {"embeddings"}, only=_EMB_SUBSET, quiet=True
    )
    assert not failures, "\n".join(failures)
    assert n_ok + n_skip == len(_EMB_SUBSET), (n_ok, n_skip)
    assert n_ok >= len(_EMB_SUBSET) - 2, f"too many skips: {n_skip}"


def test_fuzz_events_subset(spark):
    path = fuzz.corpus("events")
    con = fuzz.connect(path, {"events"})
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, {"events"}, only=_EVENT_SUBSET, quiet=True
    )
    assert not failures, "\n".join(failures)
    assert n_ok + n_skip == len(_EVENT_SUBSET), (n_ok, n_skip)
    assert n_ok >= len(_EVENT_SUBSET) - 2, f"too many skips: {n_skip}"


# the three constant-series finds (theta 0/0, empty-candidate fold
# seed, absent-arm NULL-vs-0) plus the verdict-named autocorr site —
# pinned on the deterministic zero-variance corpus that found them
_EVENT_CONST_SUBSET = {
    "events_daily_autocorr", "events_cuped_adjusted_lift",
    "events_alert_debounce", "events_experiment_scorecard",
    "events_anomaly_zscore",
}


def test_fuzz_events_constant_tier(spark):
    """Zero-variance daily series: every ratio-of-moments denominator
    is exactly 0 (this corpus shape found three
    real one-sided divergences on first run, all fixed)."""
    path = fuzz.corpus("events_const")
    con = fuzz.connect(path, {"events"})
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, {"events"}, only=_EVENT_CONST_SUBSET, quiet=True
    )
    assert not failures, "\n".join(failures)
    assert n_ok == len(_EVENT_CONST_SUBSET), (n_ok, n_skip)


_ORDER_CONST_SUBSET = {
    "orders_weekday_anova", "orders_jarque_bera", "orders_benford_audit",
    "orders_ks_drift", "orders_price_drift_chi2",
}


_SPARSE_SUBSET = {
    # the nine sparse-tier finds (empty-intermediate one-sided
    # crashes), pinned on the 3-row warehouse that found them
    "ml_sgd_linreg", "ml_logreg_sgd", "ml_auc_exact",
    "ml_gridsearch_ridge", "ml_learning_curve", "ml_kmeans_elbow",
    "io_wholetext_documents", "orders_ks_drift",
    "orders_holt_trend_fold", "orders_forecast_backtest",
}


def test_fuzz_sparse_subset(spark):
    """SPARSE-warehouse tier: 3-row fact slices empty out most
    selective filters, so every raise-on-empty asymmetry fires —
    element_at/slice on empty arrays, 0-determinant OLS with lam=0,
    p*n = 0 AUC, NULL-poisoned SGD batches, empty file-staging globs.
    One-sided crashes are differential FAILs here (both-sides
    contract raises remain SKIPs)."""
    path = fuzz.corpus("sparse")
    con = fuzz.connect(path, fuzz.ALL_TABLES)
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, set(fuzz.ALL_TABLES),
        only=_SPARSE_SUBSET, quiet=True,
    )
    assert not failures, "\n".join(failures)
    assert n_ok == len(_SPARSE_SUBSET), (n_ok, n_skip)


def test_fuzz_orders_constant_tier(spark):
    """Constant prices + rigid weekday rhythm: within-group variance
    and m2 are exactly 0 for the orders moment statistics (the
    try_divide guards on ANOVA F and Jarque-Bera are pinned here)."""
    path = fuzz.corpus("orders_const")
    con = fuzz.connect(path, {"orders"})
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, {"orders"}, only=_ORDER_CONST_SUBSET, quiet=True
    )
    assert not failures, "\n".join(failures)
    assert n_ok + n_skip == len(_ORDER_CONST_SUBSET), (n_ok, n_skip)
    assert n_ok >= len(_ORDER_CONST_SUBSET) - 1, f"too many skips: {n_skip}"


# regressions only the UNIFIED corpus can catch: the stream_ queries
# are excluded from the events-only harness, so stream_cdc_merge_
# snapshot's per-field-vs-per-row arg_max divergence under NULL
# events is pinned here
_UNIFIED_EXTRAS = {"stream_cdc_merge_snapshot"}


def test_fuzz_cross_family(spark):
    """The five oracles spanning more than one corpus family — each
    single-family harness skips them, so they run here on the unified
    adversarial warehouse (the corpus that found search_hybrid_rrf's
    zero-norm crash and the fingerprint NULL-content divergence) —
    plus the excluded-family regressions only this corpus covers."""
    path = fuzz.corpus("cross")
    con = fuzz.connect(path, fuzz.ALL_TABLES)
    wanted = fuzz.CROSS_QUERIES | _UNIFIED_EXTRAS
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, set(fuzz.ALL_TABLES),
        only=wanted, quiet=True
    )
    assert not failures, "\n".join(failures)
    assert n_ok == len(wanted), (n_ok, n_skip)


def test_fuzz_nan_subset(spark):
    """NaN tier on the double measures (tools/fuzzcheck_nan.py): NaN is a PRESENT non-NULL value, and Spark's floor maps
    it to 0 silently — without the rd/qsum NaN guards a stray NaN
    becomes a zero inside quantized sums instead of poisoning them.
    fold_global must MATCH (NaN-propagating qsum both engines); the
    domain-error names must be loud engine-errors (both engines
    reject, or a user fold fn is not NaN-total), never silent FAILs."""
    from tools.diffcheck import compare_one
    from emma_spark.workloads import load_all

    path = fuzz.corpus("nan")
    con = fuzz.connect(path, fuzz.JOIN_TABLES)
    qs = load_all()
    for name in ("fold_global", "fold_histogram_pandas_udaf",
                 "fold_reduce_option", "agg_stats_moments"):
        # NaN/inf-TOTAL contracts: non-finite elements route to the
        # same bucket/counter in both engines instead of crashing
        # int(); agg_stats_moments poisons the whole group's
        # moments to NaN explicitly on BOTH sides — DuckDB's native
        # STDDEV_POP would raise on a NaN input where Spark NaNs, so
        # the aggregates only ever see finite-masked inputs
        st, detail = compare_one(
            spark, con, name, qs[name].fn, qs[name].oracle, path)
        assert st == "ok", (name, st, detail[:200])
    for name in ("fold_product_user_alg",):
        # documented domain error: CAST(NaN AS BIGINT) inside the
        # exact-decimal product is rejected by BOTH engines — a
        # both-sided engine-error, which stays a SKIP (one-sided
        # spark-error/duck-error is a differential red)
        st, detail = compare_one(
            spark, con, name, qs[name].fn, qs[name].oracle, path)
        assert st == "engine-error", (name, st, detail[:200])


# the 26 empty-fact-tier finds: grand-total lattice rows,
# zero-total ppm guards, map<void,void> seeds, driver-side None
# arithmetic, empty write->read, NULL-vs-0 empty aggregates — pinned
# on the zero-row warehouse that found them
_EMPTY_SUBSET = {
    "rollup_orders", "cube_lineitem", "grouping_sets_orders",
    "rollup_grouping_id_surface", "udtf_table_argument",
    "events_srm_check", "events_bounce_rate", "graph_reciprocity",
    "pipeline_curation_funnel", "ml_bootstrap_ci_poisson",
    "events_burst_viterbi", "ml_kmeans_fit", "text_pack_sequences",
    "ann_ivf_trained", "graph_pagerank_sf", "ml_naive_bayes_train",
    "ml_pca_power_top", "parquet_partitioned_roundtrip",
    "pipeline_split_leakage_audit", "ml_feature_hash_collision_audit",
}


def test_fuzz_empty_facts_subset(spark):
    """EMPTY-fact-tables tier: zero-row facts are the
    day-one-partition shape — the SQL-standard () grouping set must
    survive (one grand-total row), ppm ratios NULL out like DuckDB
    x//0, literal map/array seeds built from empty collects must not
    fail analysis, and driver-side model fits return typed empty
    frames instead of None-arithmetic crashes."""
    path = fuzz.corpus("empty")
    con = fuzz.connect(path, fuzz.ALL_TABLES)
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, set(fuzz.ALL_TABLES),
        only=_EMPTY_SUBSET, quiet=True,
    )
    assert not failures, "\n".join(failures)
    assert n_ok == len(_EMPTY_SUBSET), (n_ok, n_skip)


# the monokey-skew tier's find plus tie-density/giant-window canaries
_SKEW_SUBSET = {
    "ml_cohens_kappa", "events_sessionize", "window_topn_per_group",
    "dedup_lsh_bucket_stats", "q5_local_supplier_volume",
    "ml_nearest_centroid_confusion",
}


def test_fuzz_monokey_skew_subset(spark):
    """MONOKEY-skew tier: every FK/grouping key collapsed to
    one value — single-group aggregates (kappa's zero chance-correction
    denominator), one user's giant session window, maximal tie density
    under the widened-slot argmax rule, worst-case LSH bucket load."""
    path = fuzz.corpus("skew")
    con = fuzz.connect(path, fuzz.ALL_TABLES)
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, set(fuzz.ALL_TABLES),
        only=_SKEW_SUBSET, quiet=True,
    )
    assert not failures, "\n".join(failures)
    assert n_ok == len(_SKEW_SUBSET), (n_ok, n_skip)


# the epoch-straddle tier's find (unix_timestamp truncates toward zero
# pre-1970) plus day-bucket/gap/session canaries on negative epochs;
# stream_* is excluded by the documented watermark>=epoch-0 domain
# contract (tools/fuzzcheck_epoch.py)
_EPOCH_SUBSET = {
    "datetime_ops_surface", "events_sessionize", "events_interval_merge",
    "events_resample_linear", "hyper_rollup_daily", "events_bounce_rate",
    "orders_yoy_growth",
}


def test_fuzz_epoch_straddle_subset(spark):
    """EPOCH-straddle tier: the corpus shifted to straddle
    1970-01-01 inside its original span — negative-epoch division,
    calendar truncation, and gap arithmetic must agree cross-engine
    (the tier's first run caught unix_timestamp landing one second
    late of the calendar second on pre-1970 fractional timestamps)."""
    path = fuzz.corpus("epoch")
    con = fuzz.connect(path, fuzz.ALL_TABLES)
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, set(fuzz.ALL_TABLES),
        only=_EPOCH_SUBSET, quiet=True, exclude_prefixes=("stream_",),
    )
    assert not failures, "\n".join(failures)
    assert n_ok == len(_EPOCH_SUBSET), (n_ok, n_skip)


# domain-maximum canaries: the heaviest product/sum pipelines run with
# every measure at its documented domain ceiling — any future unlifted
# LONG product or saturating floor-quantization diverges here first
_DMAX_SUBSET = {
    "groupby_agg_pricing", "q9_profit_by_nation_year", "agg_stats_moments",
    "orders_jarque_bera", "ml_linreg_closed_form", "embedding_neardup",
}


def test_fuzz_domain_max_subset(spark):
    """DOMAIN-MAX tier: measures scaled to the top of their
    documented input domains (value ±1e6, |embedding| <= 30, prices
    ~1e6) — the magnitude regime where a product that should be
    DECIMAL(38,0)/HUGEINT-lifted overflows LONG. First full-registry
    run was 397/397 clean; this subset keeps the bound-regime canaries
    in the default gate."""
    path = fuzz.corpus("domainmax")
    con = fuzz.connect(path, fuzz.ALL_TABLES)
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, set(fuzz.ALL_TABLES),
        only=_DMAX_SUBSET, quiet=True,
    )
    assert not failures, "\n".join(failures)
    assert n_ok == len(_DMAX_SUBSET), (n_ok, n_skip)


# ----------------------------------------------------------------------
# NEGATIVE-ZERO tier: -0.0 in double measures and embedding
# elements — numerically equal to 0.0, distinct under the repr
# comparator, a known grouping-key normalization seam (SPARK-32110)
# (tools/fuzzcheck_negzero.py)
# ----------------------------------------------------------------------
_NEGZERO_SUBSET = {
    "groupby_agg_pricing",      # qsum over a measure carrying -0.0
    "agg_stats_moments",        # moment aggregates of signed zeros
    "fold_global",              # python-fold seam
    "events_bitmap_dau",        # events value column
    "ann_topk_cosine",          # dot products over -0.0 elements
    "embedding_normalize",      # zero-norm gate on the all--0.0 vector
}


def test_fuzz_negzero_subset(spark):
    """First full run was 317/317 clean registry-wide (a negative
    result: quantize-before-compare covers every output); this subset
    keeps signed-zero canaries in the default gate."""
    path = fuzz.corpus("negzero")
    con = fuzz.connect(path, fuzz.TIERS["negzero"].tables)
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, set(fuzz.JOIN_TABLES) | {"events", "embeddings"},
        only=_NEGZERO_SUBSET, quiet=True,
    )
    assert not failures, "\n".join(failures)
    assert n_ok == len(_NEGZERO_SUBSET), (n_ok, n_skip)


# the MATCHED-SPARSE tier's fixed-seed subset: the confirmed
# DIVIDE_BY_ZERO repro (ml_grouped_ols_slopes), its mechanism
# siblings, and one representative per join family that the FK
# rewrite exercises (lineitem->part/supplier/orders, orders->customer,
# events->customer, embeddings->documents)
_MATCHED_SUBSET = {
    "ml_grouped_ols_slopes", "graph_assortativity",
    "events_daily_autocorr", "orders_weekday_anova",
    "ml_pca_power_top", "q5_local_supplier_volume",
    "q9_profit_by_nation_year", "groupby_agg_pricing",
    "events_cuped_adjusted_lift", "ann_topk_cosine",
}


def test_fuzz_matched_subset(spark):
    """MATCHED-SPARSE tier: facts sliced to 3 rows with FKs
    REWRITTEN onto kept keys — joins survive into single-row and
    constant-measure groups, the zero-variance-denominator shape the
    sparse tier (real FKs -> empty joins) and the monokey tier (one
    giant group) structurally cannot produce. Pins the
    ml_grouped_ols_slopes DIVIDE_BY_ZERO fix (repro: three
    n=1 brands -> Spark crash vs DuckDB NULL) and its mechanism
    class."""
    path = fuzz.corpus("matched")
    con = fuzz.connect(path, fuzz.ALL_TABLES)
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, set(fuzz.ALL_TABLES),
        only=_MATCHED_SUBSET, quiet=True,
    )
    assert not failures, "\n".join(failures)
    assert n_ok + n_skip == len(_MATCHED_SUBSET), (n_ok, n_skip)
    assert n_ok >= len(_MATCHED_SUBSET) - 1, f"too many skips: {n_skip}"


# the TIES tier's fixed subset: every selection-among-equals
# family — window top-n, dedup keeper, ANN top-k, argmax, as-of pick,
# stream top-k — plus the fold/sample shapes whose determinism the
# tier certifies under full tie ambiguity
_TIES_SUBSET = {
    "window_topn_per_group", "dedup_exact", "ann_topk_cosine",
    "asof_join_purchases", "stream_windowed_topk_users",
    "sample_reservoir", "q2_min_cost_supplier", "agg_argmax_surface",
    "dedup_minhash_pairs", "text_bm25_scores",
}


def test_fuzz_ties_subset(spark):
    """TIES tier: full-cardinality corpus with every measure,
    timestamp, doc text, and embedding vector pinned to ONE constant —
    every ranking/keeper/nearest-neighbor selection faces total tie
    ambiguity. A pass certifies the selection is pinned to a
    deterministic total order on both engines (i.e. results at scale
    are partition-layout-independent even when the data ties)."""
    path = fuzz.corpus("ties")
    con = fuzz.connect(path, fuzz.ALL_TABLES)
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, set(fuzz.ALL_TABLES),
        only=_TIES_SUBSET, quiet=True,
    )
    assert not failures, "\n".join(failures)
    assert n_ok + n_skip == len(_TIES_SUBSET), (n_ok, n_skip)
    assert n_ok >= len(_TIES_SUBSET) - 1, f"too many skips: {n_skip}"


# the ALL-NULL-MEASURE tier's fixed subset: the five first-contact
# divergences (Option-seed contract, NB NULL-poison denominator,
# list()-vs-collect_list empty/NULL seam, Croston uninitialized-state
# forecast, UDTF NULL-row crash) plus aggregate-NULL-regime canaries
_NULLM_SUBSET = {
    "mutable_bag_update", "ml_naive_bayes_train", "array_hof_surface",
    "part_croston_intermittent", "udtf_table_argument",
    "groupby_agg_pricing", "agg_argmax_surface",
    "pivot_status_by_priority", "window_topn_per_group",
    "events_bitmap_dau",
}


def test_fuzz_nullmeasures_subset(spark):
    """ALL-NULL-MEASURE tier: rows exist at full cardinality but
    every nullable measure is NULL — the third regime between the 4%-
    mixed joins corpus and the zero-row empty tier (sum/avg/corr NULL,
    count(col)=0 while count(*) is large). Pins the five first-contact
    fixes of that tier's first sweep."""
    path = fuzz.corpus("nullmeasures")
    con = fuzz.connect(path, fuzz.ALL_TABLES)
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, set(fuzz.ALL_TABLES),
        only=_NULLM_SUBSET, quiet=True,
    )
    assert not failures, "\n".join(failures)
    assert n_ok + n_skip == len(_NULLM_SUBSET), (n_ok, n_skip)
    assert n_ok >= len(_NULLM_SUBSET) - 1, f"too many skips: {n_skip}"


# the EXOTIC-PROPS tier's fixed subset: the two JSON consumers
# (quarantine contract) plus props-adjacent events canaries that must
# stay insensitive to the props column's content
_PROPS_SUBSET = {
    "udtf_expand_props", "variant_ops_surface",
    "events_retention_cohorts", "events_bitmap_dau",
}


def test_fuzz_props_subset(spark):
    """EXOTIC-PROPS tier: corrupt / top-level-non-object /
    duplicate-key / path-colliding-key JSON documents. Pins the
    parser-quarantine contract: both engines SKIP bad documents whole
    (json.loads worker crash and DuckDB first-occurrence duplicate
    reads were one-sided before the fix)."""
    path = fuzz.corpus("props")
    con = fuzz.connect(path, {"events"})
    n_ok, n_skip, failures = run_fuzz(
        spark, con, path, {"events"}, only=_PROPS_SUBSET, quiet=True,
        exclude_prefixes=fuzz.EVENT_EXCLUDES,
    )
    assert not failures, "\n".join(failures)
    assert n_ok + n_skip == len(_PROPS_SUBSET), (n_ok, n_skip)
    assert n_ok >= len(_PROPS_SUBSET) - 1, f"too many skips: {n_skip}"


# the RESTART-RESUME tier's fixed subset: one representative per
# stateful class — append windowed agg (guarded: its poison pass also
# runs), complete-mode agg, applyInPandasWithState update, session
# merge, stream-stream outer join state, chained stateful operators
_RESTART_SUBSET = {
    "stream_watermark_append", "stream_tumbling_counts",
    "stream_keyed_state_counts", "stream_session_windows",
    "stream_stream_left_outer_join", "stream_chained_window_aggs",
}


def test_fuzz_restart_resume_subset(spark):
    """RESTART-RESUME tier: each stream workload drained in TWO
    checkpointed availableNow runs over a staging dir that grows
    between them (the incremental-ingest deployment pattern), then
    compared against its batch oracle over the full corpus — the
    watermark carry-over / state-recovery semantics no single-run
    harness can reach (the far-future-poison class). The
    guarded subset member also runs its POISON pass (one year-2100
    row in drain 1 must leave the result batch-equivalent) and its
    DRIFT pass (drain 2's part2 arrives with the required
    column renamed away — quarantine_required must dead-letter the
    null-filled rows, leaving the output equal to the part1-only
    oracle), and the unguarded drift control must show the silent
    NULL-absorption class the pass exists to catch."""
    n_ok, n_skip, failures = fuzz.run_restart(
        spark, only=_RESTART_SUBSET, quiet=True
    )
    assert not failures, "\n".join(failures)
    # 6 clean + 1 poison + 1 drift (stream_watermark_append is
    # GUARDED) + 1 drift-control (stream_tumbling_counts is in subset)
    assert n_ok == len(_RESTART_SUBSET) + 3, (n_ok, n_skip)
    assert n_skip == 0, n_skip


# ----------------------------------------------------------------------
# the tier table itself (Spark-free)
# ----------------------------------------------------------------------
def test_fuzz_tier_builders_write_declared_tables(tmp_path):
    """Each TIERS row's builders write exactly the tables its oracle
    filter allows — a table the row forgets is never read, and a
    declared table nobody writes fails every view at run time."""
    for name, tier in fuzz.TIERS.items():
        d = tmp_path / name
        d.mkdir()
        for build in tier.build:
            build(str(d))
        written = {p.name for p in d.iterdir()}
        assert written == {f"{t}.parquet" for t in tier.tables}, name


def test_fuzz_tier_scopes_select_registry_queries(monkeypatch):
    from emma_spark.workloads import load_all

    monkeypatch.setattr(fuzz, "compare_one", lambda *a: ("ok", ""))
    for name, tier in fuzz.TIERS.items():
        if tier.runner:
            n = len(fuzz.eligible_workloads(load_all()))
        else:
            n, _, _ = run_fuzz(
                None, None, tier.path, set(tier.tables), only=tier.scope,
                exclude_prefixes=tier.exclude, quiet=True,
            )
        assert n > 0, name


def test_fuzz_cli_list_prints_the_table(capsys):
    assert fuzz.main(["--list"]) == 0
    assert capsys.readouterr().out.split("\n") == [*fuzz.TIERS, ""]


def test_fuzz_cli_rejects_unknown_input_before_spark(monkeypatch):
    def no_spark(*a, **k):
        raise AssertionError("Spark started")

    monkeypatch.setattr("emma_spark.session.get_spark", no_spark)
    for argv in (
        [],
        ["no_such_tier"],
        ["joins", "no_such_query"],
        ["joins", "--bogus"],
        ["sparse", "--all", "fold_global", "--list"],
    ):
        assert fuzz.main(argv) == 2, argv
