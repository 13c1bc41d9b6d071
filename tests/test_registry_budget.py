"""The verification driver checks only the first DRIVER_BUDGET registry
entries (round 1: 23 of 73 queries — the whole docs_*/emb_* family — got
no CORRECTNESS row). Pin the curated driver set inside that window and
keep the north-star LLM-pipeline family inside it."""

from projekt_data_engineering_iubh_spark.plans import all_queries
from projekt_data_engineering_iubh_spark.plans.registry import (
    DRIVER_BUDGET,
    driver_queries,
)


def test_driver_set_fits_budget():
    dq = driver_queries()
    assert len(dq) <= DRIVER_BUDGET, (
        f"{len(dq)} driver entries > budget {DRIVER_BUDGET}; merge or mark "
        f"driver=False: {list(dq)}"
    )


# Additions past the full 50-entry budget: locally oracle-verified
# (test_oracle_differential.py), deliberately not shipped to the driver.
# Round 5 rotated ten long-green driver slots (scalar_*, set_ops,
# join_semi_anti, join_cross_nation_region, window_distribution_funcs,
# docs_word_count, events_distinct_dates, events_day_slice) out to promote
# the strongest r3/r4 families (q8/q21, emb_pq_adc, emb_kmeans,
# docs_quality_model, docs_lm_perplexity, docs_span_dedup,
# docs_corpus_curated, docs_cms_heavy_hitters, docs_lsh_pairs_capped) so
# they get external CORRECTNESS rows; demoted entries stay oracle-green on
# every local test run.
LOCAL_ONLY_FAMILY = {
    # round 3
    # round 4
    # round 5 rotation (demoted after four green rounds)
    # round 5 additions that stay local
    # round 6 rotation: demoted after two green rounds (r4+r5) to free
    # slots for the never-driver-checked r5 families (docs_dedup_incremental,
    # emb_ivf/pq trained, corpus_lm, vocab_coverage, filter_audit, funnel,
    # cohort, q9, q18 all promoted)
    # (r13 rotation #10 re-promoted the stale r5/r6 demotes
    # docs_word_count / docs_simhash / docs_ngram_jaccard /
    # docs_fingerprint / docs_token_count / emb_array_funcs — their
    # implementation modules changed across 7-8 rounds since their last
    # external row; see test_stale_changed_entries_are_bounded)
    # round 6 additions (driver set at budget): the per-source dup-rate
    # datasheet rollup (#100) and the BPE tokenizer-training kernel (#101)
    # round 7 rotation: ten never-driver-checked entries promoted
    # (docs_dedup_clusters_star, emb_semantic_dedup, emb_quantize_int8,
    # docs_bloom_membership, docs_decontaminate, docs_mixture_epochs,
    # docs_pack_sequences, q10, q13, q15); these two-round-green entries
    # demoted — each has its semantics exercised by a surviving driver
    # entry or a dedicated test file, and stays oracle-green locally
    "docs_minhash_signatures",
    "docs_lsh_pairs_capped",
    "docs_lang_id",
    "emb_cosine_neardup",
    "emb_kmeans",
    # round 7 additions (driver set at budget): the 3-round BPE train
    # (#103) and the trained-vocabulary corpus tokenizer (#104)
    # round 7: explicit HyperLogLog sketch (#114)
    # round 7: Efraimidis-Spirakis weighted sample (#115)
    # round 7: power-iteration dominant principal component (#125)
    # round 7: PC-projection outlier screen (#129)
    # round 8 rotation #5: fifteen never-driver-checked entries promoted
    # (docs_pagerank, docs_neardup_triangles, docs_ppjoin_neardup,
    # emb_ivfpq_residual, emb_hamming_ann, docs_bm25_topk,
    # docs_dsir_weights, docs_hll_union, events_scd2_state,
    # events_rolling_wau_hll, docs_train_order, docs_boilerplate_prune,
    # events_gaps_islands, referential_integrity_audit,
    # docs_inverted_index); these two-round-green entries demoted — each
    # has semantics covered by surviving driver entries or dedicated
    # tests, and stays oracle-green locally
    "docs_cms_heavy_hitters",
    "docs_corpus_curated_lm",
    "docs_dedup_incremental",
    "docs_filter_audit",
    "docs_lm_perplexity",
    "docs_vocab_coverage",
    "emb_ivf_ann_trained",
    # round 8 additions (driver set at budget): the build/serve split of
    # the trained ANN indexes (#143-#146) — build persists quantizers +
    # codes via the snapshot store, serve answers from the stored index
    # (oracle = the inline variant's, so hash match proves equivalence)
    # round 9 rotation #6: fifteen never-driver-checked entries promoted
    # (emb_ivf_serve, emb_ivfpq_serve_lean, emb_top_pc_power,
    # emb_pc_outliers, events_value_hist_quantiles, events_top_paths,
    # events_user_features, events_markov_transitions,
    # events_bootstrap_ci, events_seasonal_naive_eval, docs_hll_distinct,
    # docs_weighted_sample, orders_benford, lineitem_zorder_blocks,
    # q7_nation_volume); these two-round-green (r7+r8) entries demoted —
    # semantics covered by surviving driver entries or dedicated tests,
    # oracle-green on every local run
    "docs_bloom_membership",
    "docs_decontaminate",
    "docs_mixture_epochs",
    "docs_pack_sequences",
    "docs_dedup_clusters_star",
    "docs_quality_model",
    "docs_span_dedup",
    "docs_corpus_curated",
    "docs_simhash_neardup",
    "emb_quantize_int8",
    "emb_semantic_dedup",
    # round 10 rotation #7: fourteen never-driver-checked entries
    # promoted (the r9 ANN family emb_ivfpq_serve_lean_cos /
    # emb_ivfpq_serve_rerank / emb_ivfpq_append_serve, plus
    # events_anomaly_mad, events_cusum_shift, events_linear_attribution,
    # events_attribution_join, orders_expectations, docs_char_entropy,
    # docs_media_dims, docs_media_framesample, docs_binary_payloads,
    # q19, q22); these two-round-green (r8+r9) entries demoted —
    # semantics covered by surviving driver entries or dedicated tests,
    # oracle-green on every local run (docs_inverted_index stays in the
    # driver set: its r8 row was RED, r9 is its first green — it needs a
    # second external round before demotion)
    "docs_pagerank",
    "docs_neardup_triangles",
    "docs_ppjoin_neardup",
    "docs_train_order",
    "docs_bm25_topk",
    "docs_dsir_weights",
    "docs_hll_union",
    "docs_boilerplate_prune",
    "emb_ivfpq_residual",
    # round 12 rotation #9: NINETEEN entries promoted — the whole
    # never-externally-checked backlog (docs_dedup_clusters,
    # docs_dedup_rate_by_source, docs_train_test_split,
    # docs_corpus_curated_model, docs_repetition_stats, docs_profile,
    # docs_sample, docs_chunk, events_key_skew_profile,
    # events_rolling_wau, orders_month_slice, and the r11 ANN six
    # #154-#159) plus the two r12-born entries (#160
    # emb_ivf_routed_delete_serve, #161 emb_knn_join_recall); these
    # two-round-green (r10+r11) entries demoted — semantics covered by
    # surviving driver entries or dedicated tests, oracle-green on
    # every local run
    "docs_char_entropy",
    "docs_binary_payloads",
    "docs_media_dims",
    "docs_media_framesample",
    "emb_ivf_serve",
    "emb_ivfpq_serve_lean",
    "emb_ivfpq_serve_lean_cos",
    "emb_ivfpq_append_serve",
    # round 11 rotation #8: sixteen never-driver-checked entries
    # promoted (emb_knn_join_shuffled #152 leading, the new
    # emb_knn_join_trained #153, the BPE family docs_bpe_pair_counts /
    # docs_bpe_one_round / docs_bpe_train3 / docs_bpe_tokenize, the ANN
    # build halves emb_ivf_build / emb_ivfpq_build / emb_ivfpq_serve,
    # emb_ivf_ann, emb_ivf_ann_multiprobe, emb_ann_recall,
    # emb_ann_recall_trained, emb_cluster_stats, docs_pii_scrub,
    # docs_tfidf_top_terms); these two-round-green (r9+r10) entries
    # demoted — semantics covered by surviving driver entries or
    # dedicated tests, oracle-green on every local run
    "docs_inverted_index",
    "docs_hll_distinct",
    "docs_weighted_sample",
    "emb_top_pc_power",
    "emb_pc_outliers",
    # (the r11 mid-round ANN additions #154-#159 and the r12-born #160/
    # #161 were all promoted INTO the driver set by rotation #9 above)
    # round 13 rotation #10 — the STALENESS rotation: with the
    # never-checked backlog at zero, the promotes are the stalest
    # entries whose implementation modules changed since their last
    # external row (tools/rotation_staleness.py: top20_lineitems at 11
    # rounds stale, the whole staleness-8 scalar/join/window group, the
    # staleness-7 docs fingerprint/ngram/simhash/token family,
    # emb_array_funcs, agg_having, agg_stats_percentiles,
    # events_map_funcs, plus the r13-born #162 emb_kmeans_routed_train);
    # these two-round-green (r11+r12) entries demoted — semantics
    # covered by surviving driver entries or dedicated tests,
    # oracle-green on every local run
    "docs_tfidf_top_terms",
    "docs_pii_scrub",
    "docs_bpe_pair_counts",
    "docs_bpe_one_round",
    "docs_bpe_train3",
    "docs_bpe_tokenize",
    "emb_knn_join_shuffled",
    "emb_ann_recall",
    "emb_ann_recall_trained",
    "emb_cluster_stats",
    "emb_ivf_build",
    "emb_ivfpq_build",
    # round 13 post-rotation birth: #163 docs_neardup_takedown_filter
    # (the band-delta takedown face certification) landed AFTER rotation
    # #10's pre-flight, so it stays local-only until rotation #11 — the
    # same convention every post-pre-flight entry has followed; the
    # never-checked backlog ceiling (20) tracks it until promoted
    # round 14 rotation #11: promoted #163 + the two staleness-8
    # entries + the five r13-changed-module vector entries the r13
    # VERDICT named; demoted these two-round-green entries whose
    # implementations r14 did NOT touch (an optimization round must
    # never rotate out a query it just optimized) — all remain
    # locally oracle-verified via test_oracle_differential
    "docs_train_test_split",
    "docs_repetition_stats",
    "docs_profile",
    "docs_sample",
    "docs_chunk",
}

# non-docs/emb r7 local-only additions (#106 events_attribution_join,
# #107 orders_expectations) need no allowlist entry — the family test
# only tracks docs_*/emb_* names.

# non-docs/emb local-only entries need no allowlist (the family test
# only tracks docs_*/emb_*)


def test_llm_pipeline_family_is_driver_checked():
    dq = driver_queries()
    family = [n for n in all_queries() if n.startswith(("docs_", "emb_"))]
    missing = [n for n in family if n not in dq and n not in LOCAL_ONLY_FAMILY]
    assert family and not missing, f"docs_*/emb_* outside driver window: {missing}"


def test_never_driver_checked_backlog_is_bounded():
    """Registry growth must not outrun driver rotation (VERDICT r11 #6):
    entries born after a rotation's pre-flight stay local-only until the
    next round, so the never-externally-checked pool regrows (11 -> 17
    in r11). This ceiling makes that drift fail CI instead of waiting
    for a verdict to notice: an entry counts against the backlog until
    it has held a green hash row in some CORRECTNESS_r*.json. The bound
    (20) leaves headroom for a round's worth of new entries on top of a
    rotation that promotes the whole prior backlog."""
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    ever_green: set[str] = set()
    history = sorted(repo.glob("CORRECTNESS_r*.json"))
    assert history, "no CORRECTNESS_r*.json history found at repo root"
    for p in history:
        rows = json.loads(p.read_text())
        ever_green |= {
            name for name, row in rows.items() if row.get("hash_match")
        }
    backlog = sorted(set(all_queries()) - ever_green)
    assert len(backlog) <= 20, (
        f"{len(backlog)} registry entries have never held an external "
        f"driver CORRECTNESS row — rotate before adding more: {backlog}"
    )


def test_stale_changed_entries_are_bounded():
    """The staleness clock (r13, VERDICT r12 #5): with the
    never-checked backlog at zero, the risk shifts to entries whose
    external row is many rounds old while their implementation moved
    underneath — a refactor bug there would hide until a verdict
    spot-run. Ceiling: no local-only (driver=False) entry may sit more
    than MAX_STALE_ROUNDS rounds past its last external green row when
    its import closure changed since that round's tree. Rotation must
    promote the stalest-and-changed entries every round to stay under
    it (tools/rotation_staleness.py prints the shortlist)."""
    import importlib.util
    from pathlib import Path

    import pytest

    tool = (
        Path(__file__).resolve().parent.parent
        / "tools"
        / "rotation_staleness.py"
    )
    spec = importlib.util.spec_from_file_location("rotation_staleness", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    try:
        rows = mod.staleness_table()
    except Exception as e:  # pragma: no cover — e.g. git history absent
        pytest.skip(f"staleness table unavailable: {e}")

    MAX_STALE_ROUNDS = 8
    offenders = [
        (r["entry"], r["staleness"])
        for r in rows
        if not r["driver"]
        and r["changed_since_checked"]
        and r["staleness"] is not None
        and r["staleness"] > MAX_STALE_ROUNDS
    ]
    assert not offenders, (
        f"local-only entries stale > {MAX_STALE_ROUNDS} rounds with "
        f"changed modules — promote them in the next rotation: "
        f"{offenders}"
    )


def test_driver_entries_have_oracles():
    # every driver entry except the documented rows-only ones must carry SQL
    rows_only = set()
    missing = [
        n for n, q in driver_queries().items()
        if q.oracle is None and n not in rows_only
    ]
    assert not missing, f"driver entries without oracle SQL: {missing}"


def test_driver_entries_emit_scalar_columns_only(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The external driver canonicalizes results through raw pandas
    sort_values; list/map/struct cells crash it before any comparison
    runs (CORRECTNESS_r08: docs_inverted_index, array<long> postings ->
    TypeError: unhashable type 'list'). The CHECK is schema-level (no
    .collect() on any result), but plan CONSTRUCTION for the stored-index
    serve entries builds their index if absent (k-means training + an
    index write), so the index root is pointed at a throwaway tmp dir —
    no writes under the shared SPARK_GRAFT_INDEX_DIR, no cross-test
    state leakage."""
    from projekt_data_engineering_iubh_spark.plans.registry import (
        scalar_schema_violations,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    bad: dict[str, list[str]] = {}
    for name, q in driver_queries().items():
        v = scalar_schema_violations(q.fn(spark, sf_dir).schema)
        if v:
            bad[name] = v
    assert not bad, (
        f"driver entries with non-scalar output columns (the driver's "
        f"pandas canon cannot hash these): {bad}"
    )
