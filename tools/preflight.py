"""Pre-flight replica of the external driver's full correctness sweep.

Drives the EXACT surface the driver drives — `__spark_entry__.queries()`
/ `oracle_sql()` on a VANILLA SparkSession (no engine session factory;
session-dependent fixes must activate inside `load_table`) — over every
registered query, not just the 50-entry sweep prefix, and applies
strictly MORE checking than the driver:

  * complex-typed checked columns (array/map/struct) are flagged — they
    crash the driver's canonicalizer;
  * oracled queries compare value-level against DuckDB
    (`testing.compare_frames`, stricter than the driver's hash);
  * rows-only queries must return rows and their `*_ok` self-validation
    columns must be all-true.

Usage:  python tools/preflight.py [sf_dir] [name_substr ...]
(default sf0.01, all queries; extra args filter by exact name or
substring so one query can be re-checked in seconds)
Exit code 0 = every query green; 1 = failures (listed).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: Degenerate-variance allowlist: {query: {column, ...}} of output columns
#: CONFIRMED to be constant by design at sf0.01 (e.g. a pinned parameter
#: echoed per row, a threshold column, a single-group slice). A constant
#: metric column NOT listed here is an advisory: the value compare passes
#: even if the formula is wrong for every varying input — the
#: constant-vs-constant sibling of the empty-vs-empty vacuity class.
_CONSTANT_OK: dict[str, set] = {
    # Reviewed round 5 (all 92 flags triaged; two REAL vacuities found by
    # this audit were FIXED instead of listed: e_survival_km_curve
    # censored every user at sf -> survival was identically 1.0, and
    # n_watermark_detection's z > 4 threshold was unreachable on
    # 14-token docs since max z = sqrt(n)). The survivors fall into
    # three confirmed-intent classes:
    #   * global echo -- a corpus/group total or globally-fitted scalar
    #     repeated beside varying per-row columns (n_rows, n_days,
    #     hurst_h, theil_total, offered_load_*, overall_acc_ppm ...);
    #     it IS oracle-checked, and carrying it per-row is the point.
    #   * sf-coincidence -- varies at scale, ties at sf0.01 (planted
    #     duplicates make top-k cosine/hamming saturate, every dup
    #     cluster has the same size, TPC-H quantity spans 1..50 in
    #     every group, one cohort week fits the window ...).
    #   * fixed-input demo -- scalar-function showcases over literal or
    #     uniform inputs (name_prefix/name_len on generated names,
    #     keys_csv on a literal map ...).
    "a_bitmap_distinct": {"n_users"},
    # round 10: the generator gives every event type the full user
    # population (150 at sf0.01) — sf-coincidence; the user-day counts
    # and both envelope flags vary/are the contract.
    "a_hll_exact_bands": {"n_users_exact"},
    # round 10: all 3 order statuses occur in every segment at every sf
    # (structural); the per-status counts vary.
    "a_map_collect_entries": {"n_statuses"},
    # round 10: orders span all 12 months at every sf (structural); the
    # mode month/count vary per rollup level.
    "a_rollup_map_mode": {"n_months"},
    # round 11 (ninth wave, all triaged this round):
    # structural — the >=30% lattice-level gate keeps only flag-subtotal
    # and grand rows, whose status is 'ALL' by rollup construction (the
    # gate dropping all six leaf cells at every sf IS the query's point);
    # flag_label / n_items / qty_x100 / share_bp vary.
    "a_rollup_label_share": {"status"},
    # structural — every cube cell includes January at every sf (orders
    # start on a Jan 1), so MIN(month)=1; mon_max varies (2001 ends in
    # August), n_months and the mode columns vary.
    "a_cube_priority_mode": {"mon_min"},
    # structural — the >=6% share gate keeps exactly the four 'en'
    # source-class groups (the corpus' built-in generator weight), and
    # each class holds 5 of the 20 uniformly-numbered sources; p90,
    # n_docs, first_source, share_bp vary.
    "u_udaf_p90_census": {"lang", "n_sources"},
    # global echo — the sketch parameter k=64 repeated per group (every
    # segment holds >=64 customers at every sf; k_used < 64 only for
    # groups smaller than the sketch).
    "u_udaf_kmv_distinct": {"k_used"},
    # structural — 64 registers band into 8 groups of exactly 8.
    "u_udtf_hll_buckets": {"n_buckets"},
    # by design — the deterministic doc_id%5 law makes fold sizes equal
    # whenever |docs| % 5 == 0 (the generator emits round counts), and
    # n_leaked == 0 is the audit's PROVEN zero (computed via INTERSECT,
    # not asserted); every lang reaches every fold at sf0.01
    # (sf-coincidence). test_chars and test_id_sum vary per fold.
    "n_fold_split_eval": {"n_train", "n_test", "n_leaked", "n_test_langs"},
    # sf-coincidence — at sf0.01 all 150 users touch all 5 types more
    # than once (10k events over 750 pairs), so per-type key counts
    # saturate; n_events / total_cents / eid_span_sum vary.
    "st_state_type_census": {"n_keys", "n_repeat_keys"},
    # round 10: props.k is uniform 0..99, so every event type sees the
    # max — sf-coincidence; k_sum/n_high_k vary per type.
    "s_json_lines_roundtrip": {"k_max"},
    "a_correlation_matrix": {"n"},
    "a_count_distinct": {"n_nations"},
    # round 6: TPC-H has exactly 5 nations per region at every sf —
    # structural sf-coincidence; key_sum/first_name vary per group.
    "s_json_multiline_scan": {"n_nations"},
    "a_dorfman_group_testing": {"defect_rate_ppm"},
    "a_ipf_raking": {"max_rowsum_gap"},
    "a_k_anonymity_audit": {"k_global", "n_rows_at_risk"},
    "a_mad_outliers": {"n_outliers"},
    "a_market_basket_lift": {"n_orders"},
    "a_negbin_moments_fit": {"n_days"},
    "a_stats_formulas": {"min_qty", "max_qty"},
    "a_theil_decomposition": {"theil_total", "theil_between", "theil_within", "between_share_ppm"},
    "e_attribution_window_sweep": {"n_purchases"},
    "e_cohort_ltv_triangle": {"cohort_week", "n_users"},
    "e_dau_mau_stickiness": {"mau"},
    "e_decay_engagement_score": {"n_recent"},
    "e_gains_lift_table": {"n"},
    "e_growth_accounting": {"resurrected"},
    "e_mde_runtime_curve": {"mean_spend_dollars"},
    "e_pareto_8020": {"n_users"},
    "e_price_volume_mix": {"residual_dollars"},
    "e_quantile_treatment_effects": {"n_a", "n_b"},
    "e_retention_cohorts": {"cohort_week", "n_active"},
    "e_shapley_attribution": {"shapley_ppm", "n_users", "grand_coalition_ppm", "efficiency_gap"},
    "e_snaive_forecast_backtest": {"n_days"},
    "f_array_funcs": {"dim"},
    "f_collation_group": {"n_variants"},
    "f_map_aggregation_pipeline": {"n_priorities", "priorities_sorted"},
    "f_map_funcs": {"k1", "keys_csv"},
    "f_math_funcs": {"above_1k"},
    "f_semistructured": {"keys_csv"},
    "f_split_explode": {"n_words"},
    "f_string_funcs": {"name_prefix", "name_len"},
    "f_url_funcs": {"encoded"},
    "f_variant_type": {"max_k"},
    "g_harmonic_centrality": {"n_reached"},
    "g_modularity_brand_partition": {"m_edges"},
    "g_rich_club_coefficient": {"n_club_nodes", "n_club_edges", "phi_ppm"},
    "j_fuzzy_name_trigram": {"jaccard_ppm"},
    "j_theta_self_pairs": {"n_pairs"},
    "m_frame_sampling": {"sampled_frames"},
    "m_perceptual_hash_dedup": {"hamming"},
    "n_autocomplete_prefix_topk": {"confidence_ppm"},
    "n_chao1_good_turing": {"observed_vocab", "chao1_vocab_estimate", "unseen_mass_ppm"},
    "n_class_balanced_downsample": {"n_kept"},
    "n_code_detection_score": {"n_code_docs", "mean_symbol_density_ppm", "tot_keywords"},
    "n_codeswitch_audit": {"n_codeswitched", "codeswitch_ppm", "max_minority_ppm"},
    "n_colbert_maxsim_rerank": {"n_query_vectors"},
    "n_dedup_clusters": {"cluster_size"},
    "n_dedup_survivorship_policy": {"n_copies"},
    "n_domain_mix_rebalance": {"n_docs"},
    "n_embedding_quantize": {"max_code", "min_code"},
    "n_exact_dedup": {"n_copies"},
    "n_group_kfold": {"n_docs", "n_sources", "n_leaky_sources"},
    "n_hashing_collision_sweep": {"vocab_size", "buckets_used", "collided_terms_ppm"},
    "n_ivf_recall_eval": {"n_exact"},
    "n_js_divergence_sources": {"n_terms"},
    "n_lang_quality_bands": {"band"},
    "n_moe_load_balance_proxy": {"balance_loss", "max_over_mean_load"},
    "n_pii_redaction": {"n_emails", "n_phones"},
    "n_pps_systematic_sample": {"n_hits"},
    "n_sentence_stats": {"max_sents_per_doc"},
    "n_slice_eval_metrics": {"n_pos", "acc_ppm", "overall_acc_ppm"},
    "n_stemming_normalize": {"vocab_raw", "vocab_stemmed", "vocab_reduction_ppm"},
    "n_tfidf_doc_similarity": {"dot", "cosine"},
    "n_token_packing": {"bin_id", "n_docs"},
    "n_tokenizer_fertility": {"fertility_ppm"},
    "n_truncation_loss_sweep": {"n_docs", "total_tokens"},
    "n_uncertainty_sampling": {"second_votes"},
    "n_url_canonical_dedup": {"n_canonical"},
    "n_vocab_coverage": {"n_oov", "oov_rate"},
    "pipeline_data_curation": {"n_input", "n_after_dedup", "n_kept", "tokens_kept"},
    "pipeline_pretrain_corpus": {"n_input_corpus"},
    "s_benford_qc": {"n_total"},
    "s_column_masking_view": {"name_masked"},
    "s_csv_scan_roundtrip": {"n_nations"},
    "s_expectations_check": {"n_rows"},
    "s_format_interop_matrix": {"n_rows", "cents_checksum", "key_checksum"},
    "s_merge_on_read_deletes": {"n_deleted"},
    "s_one_big_table_build": {"n_regions"},
    "s_profile_table": {"n_rows", "n_null"},
    "s_skew_report": {"total_rows", "n_keys"},
    "t_burstiness_fano": {"n_days", "n_active_days"},
    "t_cross_correlation_lags": {"n_days"},
    "t_erlang_c_staffing": {"n_orders", "n_pods", "offered_load_total_erlangs", "offered_load_per_pod"},
    "t_event_order_skew": {"n_out_of_order", "max_lateness_s", "total_lateness_s", "avg_lateness_s"},
    "t_hurst_exponent": {"hurst_h"},
    "t_max_drawdown": {"n_days"},
    "t_permutation_entropy": {"n_triplets", "perm_entropy_nats", "perm_entropy_normalized"},
    "t_rate_limit_violations": {"n_in_hour"},
    "t_seasonality_dow_profile": {"n_days"},
    "u_vectorized_suite": {"n_top"},
    "w_pareto_skyline": {"n_parts"},
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filters = sys.argv[2:]

    from pyspark.sql import SparkSession
    from pyspark.sql.types import ArrayType, MapType, StructType

    import __spark_entry__ as se
    from iris_pyspark_spark.registry import EnvironmentGated
    from iris_pyspark_spark.testing import compare_frames, make_oracle_con

    spark = SparkSession.builder.master("local[8]").getOrCreate()  # vanilla!
    spark.sparkContext.setLogLevel("ERROR")
    qs, osql = se.queries(), se.oracle_sql()
    if name_filters:
        qs = {
            n: fn
            for n, fn in qs.items()
            if any(f == n or f in n for f in name_filters)
        }
    con = make_oracle_con(sf_dir)

    bad: list[tuple[str, str]] = []
    advisories: list[tuple[str, list]] = []
    skipped = 0
    per_q: dict[str, float] = {}
    t0 = time.time()
    for i, name in enumerate(qs, 1):
        tq = time.time()
        try:
            df = qs[name](spark, sf_dir)
            complex_cols = [
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
            ]
            if complex_cols:
                bad.append((name, f"complex checked columns {complex_cols}"))
                continue
            pdf = df.toPandas()
            # Vacuity gate (applies to ORACLED queries too): an empty
            # result trivially matches an empty oracle, and a 1-row
            # all-NULL aggregate over an empty input matches its oracle's
            # identical NULLs — both were observed when date windows
            # predated the data's range. Neither proves anything.
            if len(pdf) < 1:
                bad.append((name, "no rows (vacuous result)"))
                continue
            if len(pdf.columns) > 0 and bool(pdf.isna().all(axis=1).all()):
                bad.append((name, "all rows entirely NULL (vacuous result)"))
                continue
            if osql.get(name):
                res = compare_frames(pdf, con.execute(osql[name]).df())
                if not res.ok:
                    bad.append((name, res.detail[:200]))
                elif len(pdf) >= 3:
                    # Degenerate-variance advisory: a column identical on
                    # every row proves little even when the oracle agrees.
                    # ≥3-row results only — 1-row global aggregates and
                    # 2-row A/B splits are legitimately low-variance.
                    const_cols = [
                        c
                        for c in pdf.columns
                        if not c.endswith("_ok")
                        # Boolean columns are audit verdicts: constant
                        # TRUE (or FALSE) is their success state, and the
                        # oracle still value-checks them.
                        and pdf[c].dtype.kind != "b"
                        and c not in _CONSTANT_OK.get(name, set())
                        and pdf[c].nunique(dropna=False) <= 1
                    ]
                    if const_cols:
                        advisories.append((name, const_cols))
            else:
                ok_cols = [c for c in pdf.columns if c.endswith("_ok")]
                if not ok_cols:
                    bad.append((name, "rows-only query without *_ok columns"))
                elif not all(pdf[c].all() for c in ok_cols):
                    bad.append((name, f"false validation rows in {ok_cols}"))
        except EnvironmentGated:
            skipped += 1
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            bad.append((name, f"EXC {type(e).__name__}: {str(e)[:200]}"))
        per_q[name] = time.time() - tq
        if i % 50 == 0:
            print(
                f"  ...{i}/{len(qs)} ({time.time() - t0:.0f}s, {len(bad)} bad)",
                flush=True,
            )

    print(
        f"preflight: {len(qs)} queries at {sf_dir} in {time.time() - t0:.0f}s — "
        f"{len(qs) - len(bad) - skipped} green, {skipped} env-gated, {len(bad)} bad"
    )
    for name, detail in bad:
        print(f"  FAIL {name}: {detail}")
    if advisories:
        print(
            f"degenerate-variance advisories ({len(advisories)}) — confirm "
            "intent and allowlist in _CONSTANT_OK, or fix the query:"
        )
        for name, cols in advisories:
            print(f"  CONST {name}: {cols}")
    slowest = sorted(per_q.items(), key=lambda kv: -kv[1])[:10]
    print("slowest:", ", ".join(f"{n}={dt:.1f}s" for n, dt in slowest))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
