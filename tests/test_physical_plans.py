"""Physical-plan assertions: the optimizations that matter at 100 TB must
actually appear in the executed plan, not just in intent.

Plan strings come from queryExecution().executedPlan() (pre-execution,
AQE-wrapped) — enough to see scans, pushed filters, and join strategies.
"""

from __future__ import annotations

import pytest

from projekt_data_engineering_iubh_spark.pipeline import daily_aggregator as da
from projekt_data_engineering_iubh_spark.pipeline.config import DEFAULT_RULES
from projekt_data_engineering_iubh_spark.plans import all_queries
from tests.test_pipeline_golden import FIXTURE_ROWS

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = all_queries()[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_prunes_unused_columns(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read
    # 7 needed columns reach the scan; keys/partkeys are pruned
    assert all("l_partkey" not in ln and "l_orderkey" not in ln for ln in read)
    assert any("l_quantity" in ln for ln in read)


def test_month_slice_pushes_filter_to_scan(spark):
    plan = plan_of(spark, "orders_month_slice")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("o_orderdate" in ln for ln in pushed)


def test_q3_q5_broadcast_small_sides_at_test_scale(spark):
    # at sf0.001 every filtered side fits the size-based threshold, so
    # Catalyst/AQE still picks broadcast joins without any hint
    for name in ("q3_shipping_priority", "q5_regional_revenue"):
        assert "BroadcastHashJoin" in plan_of(spark, name), name


def test_q3_q5_no_fact_broadcast_at_scale(spark):
    # 100 TB regime: no sf-proportional table fits any broadcast
    # threshold. Mimic by disabling size-based auto-broadcast — what
    # remains broadcast is exactly the explicit hints, which must feed
    # only from FIXED-cardinality dimensions (q5: nation 25 rows, region
    # 5 rows), never from orders/customer/supplier/lineitem/part
    # (r2 VERDICT: hinted fact-sized broadcasts OOM at 100×).
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q3 = plan_of(spark, "q3_shipping_priority")
        # q3 has no fixed-size dimension: nothing may be force-broadcast
        assert "BroadcastExchange" not in q3
        assert "SortMergeJoin" in q3 or "ShuffledHashJoin" in q3

        q5 = plan_of(spark, "q5_regional_revenue")
        bhj = [ln for ln in q5.splitlines() if "BroadcastHashJoin" in ln]
        assert bhj, "nation/region hints must survive"
        for ln in bhj:
            # broadcast joins key only on nation/region equi-keys
            assert "n_nationkey" in ln or "n_regionkey" in ln, ln
            assert "o_custkey" not in ln and "o_orderkey" not in ln, ln
        # the fact-fact joins (lineitem⋈orders, orders⋈customer) shuffle
        shuffled = [
            ln
            for ln in q5.splitlines()
            if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln
        ]
        assert any("o_orderkey" in ln for ln in shuffled)
        assert any("o_custkey" in ln for ln in shuffled)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_top20_uses_take_ordered(spark):
    # global top-k must not materialize a full sort
    assert "TakeOrderedAndProject" in plan_of(spark, "top20_lineitems")


def test_lsh_pairs_is_equi_join(spark):
    # the LSH candidate join must be an equi-join (hash/sort-merge), never
    # a nested-loop/cartesian — that's the whole point of banding
    plan = plan_of(spark, "docs_minhash_lsh_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semi_anti_join_strategies(spark):
    plan = plan_of(spark, "join_semi_anti")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_flagship_single_scan_branches(spark):
    # both rollup branches read the same parquet — the scan must appear,
    # and no Python UDFs (BatchEvalPython) may sneak into the plan
    plan = plan_of(spark, "events_flagship_session_rollup")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "docs_text_stats",
        "docs_minhash_signatures",
        "emb_knn_brute",
        "emb_pq_adc",
        "events_sessionize",
        "docs_cms_heavy_hitters",
        "docs_lm_perplexity",
        "docs_bloom_membership",
    ],
)
def test_no_python_udfs_on_hot_paths(spark, name):
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_spread_is_noop_when_parallel_enough(spark):
    from projekt_data_engineering_iubh_spark.catalog import load_table, spread

    d = load_table(spark, SF_DIR, "documents")
    wide = d.repartition(64)
    # already >= target: returned unchanged (never coalesced)
    assert spread(wide, n=32) is wide
    # narrow input: repartitioned up to the target
    assert spread(d, n=16).rdd.getNumPartitions() == 16


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Runtime row-level filtering: a selective dimension predicate must
    inject a bloom filter (might_contain on the join key) into the FACT
    scan side when the join is shuffle-based — at 100 TB this prunes
    most of the fact scan before the shuffle. Size thresholds are
    lowered to test scale; the mechanism and plan shape are identical
    at the defaults (10 MB creation / 10 GB application sides)."""
    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        l = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = l.join(o, l.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "might_contain" in plan, plan
        # the filter must sit on the lineitem (application) side
        fact_side = [
            ln for ln in plan.splitlines()
            if "might_contain" in ln and "l_orderkey" in ln
        ]
        assert fact_side, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_quality_model_fit_predict_plan(spark):
    # the trained scorer's predict join must be an equi-join on token and
    # the whole fit+predict plan UDF-free; the only broadcast-nested-loop
    # is the 1-row scalars crossJoin (bounded, deliberate)
    plan = plan_of(spark, "docs_quality_model")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "token" in plan


# ---------------------------------------------------------------------------
# Exchange budgets (r6 VERDICT #8): every headline plan gets a pinned
# shuffle/broadcast ceiling so a future plan regression (a lost reuse, a
# new unplanned shuffle, a broadcast that silently became a shuffle) is
# caught by pytest before the bench sees it. Budgets are the counts
# measured at sf0.001 on the round-7 plans; they are UPPER bounds — going
# under is an improvement, going over fails loudly.
# ---------------------------------------------------------------------------

_EXCHANGE_BUDGETS = {
    # name: (max shuffle exchanges, max broadcast exchanges)
    "docs_dedup_exact": (2, 0),
    "docs_minhash_lsh_pairs": (2, 1),
    "docs_text_stats": (0, 0),
    # uncapped probe path + materialize_vertices=False: the vertex scan
    # is re-read (not checkpointed), so the singleton anti-join shows as
    # a second small broadcast — both broadcasts are id-column frames
    "docs_dedup_apply": (4, 2),
    "events_flagship_session_rollup": (4, 0),
    "q1_pricing_summary": (1, 0),
    "q3_shipping_priority": (1, 2),
    "q5_regional_revenue": (1, 5),
    "emb_knn_brute": (1, 1),
    "emb_lsh_ann_pairs": (0, 1),
}


@pytest.mark.parametrize("name", sorted(_EXCHANGE_BUDGETS))
def test_headline_exchange_budget(spark, name):
    import re

    plan = plan_of(spark, name)
    shuffles = len(
        re.findall(
            r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
            plan,
        )
    )
    broadcasts = plan.count("BroadcastExchange")
    max_sh, max_bc = _EXCHANGE_BUDGETS[name]
    assert shuffles <= max_sh, (name, shuffles, max_sh, plan)
    assert broadcasts <= max_bc, (name, broadcasts, max_bc, plan)


def test_ann_pairs_probe_picks_uncapped_plan(spark):
    """On data with no oversized bucket (all driver SFs) the runtime
    occupancy probe must drop the rn skew guard entirely: no Window /
    WindowGroupLimit in the executed plan — the capped variant's four
    extra stage boundaries were the r6 bench's one red number."""
    plan = plan_of(spark, "emb_lsh_ann_pairs")
    assert "Window" not in plan, plan
    assert "WindowGroupLimit" not in plan, plan


def test_knn_join_shuffles_both_sides_never_broadcasts(spark):
    """emb_knn_join_shuffled is the large-to-large kNN join: the query
    side is corpus-sized, so the candidate join must be the shuffled
    strategy at EVERY scale — a size-based broadcast flip at test scale
    would certify a plan that OOMs at 100 TB. The `.hint("merge")` pin
    must survive into the executed plan: sort-merge on (cell, slice),
    both sides hash-partitioned on the join key, zero broadcasts."""
    plan = plan_of(spark, "emb_knn_join_shuffled")
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastExchange" not in plan, plan
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert any("pcell" in ln and "qslice" in ln for ln in smj), plan
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    # query side shuffled on (pcell, qslice); corpus side on (cell, slice)
    assert any("pcell" in ln and "qslice" in ln for ln in ex), plan
    assert any(
        "cell" in ln and "slice" in ln and "pcell" not in ln for ln in ex
    ), plan


def test_train_order_single_window_shuffle(spark):
    """docs_train_order (#108) must stay one hash projection + ONE window
    shuffle (the terasort shape): row_number and the running char-offset
    share the same (shard, hkey) window spec, so a second Exchange or a
    second Window node is a plan regression."""
    import re

    plan = plan_of(spark, "docs_train_order")
    shuffles = len(
        re.findall(
            r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
            plan,
        )
    )
    assert shuffles <= 1, plan
    # one Window node computes every windowed column
    assert plan.count("Window [") == 1, plan


def test_scd2_single_exchange_two_windows(spark):
    """events_scd2_state (#119): the change-detect lag and the interval
    lead/row_number share one (user_id; ts, event_id) partitioning, so
    the plan must hold ONE shuffle exchange and exactly two Window
    nodes with no re-sort between them."""
    import re

    plan = plan_of(spark, "events_scd2_state")
    shuffles = len(
        re.findall(
            r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
            plan,
        )
    )
    assert shuffles == 1, plan
    assert plan.count("Window [") == 2, plan


def test_hist_quantiles_exchange_budget(spark):
    """events_value_hist_quantiles (#121): one groupBy(type, bin)
    shuffle feeds windows + final rollup over the <= types*64-row
    histogram — the per-type window and final agg repartition that tiny
    table; nothing else may shuffle event-sized data (budget 3)."""
    import re

    plan = plan_of(spark, "events_value_hist_quantiles")
    shuffles = len(
        re.findall(
            r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
            plan,
        )
    )
    assert shuffles <= 3, plan


def test_bm25_takeordered_no_global_sort(spark):
    """docs_bm25_topk (#112): the top-k must plan as
    TakeOrderedAndProject (per-partition heaps + k-row driver merge),
    never a global Sort over the scored corpus."""
    plan = plan_of(spark, "docs_bm25_topk")
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_sample_no_shuffle(spark):
    """docs_weighted_sample (#115): stateless per-row scoring into
    TakeOrderedAndProject — ZERO shuffle exchanges."""
    import re

    plan = plan_of(spark, "docs_weighted_sample")
    assert "TakeOrderedAndProject" in plan, plan
    shuffles = len(
        re.findall(
            r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
            plan,
        )
    )
    assert shuffles == 0, plan


def test_dsir_weight_table_broadcasts(spark):
    """docs_dsir_weights (#113): the B=4096-row weight table must reach
    the gram stream as a broadcast join, never a shuffled one."""
    plan = plan_of(spark, "docs_dsir_weights")
    assert "BroadcastExchange" in plan, plan


def test_boilerplate_prune_broadcasts_frequent_spans(spark):
    """docs_boilerplate_prune (#122): the flag join's build side is the
    >= K-frequent span keys ONLY (HAVING runs before the join), so it
    must plan as a broadcast — correct at any corpus size because
    boilerplate templates, not the corpus, bound it. Budget: the freq
    groupBy, its partial-agg exchange, and the doc reassembly — no
    span-table self-join anywhere (<= 3 shuffles)."""
    import re

    plan = plan_of(spark, "docs_boilerplate_prune")
    assert "BroadcastExchange" in plan, plan
    shuffles = len(
        re.findall(
            r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
            plan,
        )
    )
    assert shuffles <= 3, plan
    assert "Window [" not in plan, plan


def test_gaps_islands_two_exchanges_two_windows(spark):
    """events_gaps_islands (#123): distinct (user_id, day) is one
    exchange; the day-rank window re-partitions to user_id and that
    partitioning is REUSED by both the island groupBy (grouping keys
    superset) and the island-sequence window — so exactly two shuffles
    and two Window nodes, no third exchange for the final window."""
    import re

    plan = plan_of(spark, "events_gaps_islands")
    shuffles = len(
        re.findall(
            r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
            plan,
        )
    )
    assert shuffles == 2, plan
    assert plan.count("Window [") == 2, plan


def test_triangles_no_cartesian_bounded_shuffles(spark):
    """docs_neardup_triangles (#124): the wedge join MUST be a
    key-partitioned equi-join on the shared oriented source (a raw
    cartesian or broadcast-nested-loop would be quadratic in the
    hottest bucket), and the whole plan stays within a fixed shuffle
    budget: with the edge list and oriented list localCheckpointed
    (measured: 107 shuffles -> 7 without lineage truncation), what
    remains is the degree agg, degree joins, wedge + closure joins, and
    the triangle-vertex groupBy."""
    import re

    plan = plan_of(spark, "docs_neardup_triangles")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    shuffles = len(
        re.findall(
            r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
            plan,
        )
    )
    assert shuffles <= 8, f"{shuffles} shuffles\n{plan}"


def test_power_iteration_one_pass_per_round(spark):
    """emb_top_pc_power (#125): with the centered matrix and each
    round's 64-row iterate localCheckpointed, the FINAL plan must be
    the cheap tail only — the three materialized iterates joined to the
    means (<= 6 shuffles, no cartesian, no parquet re-scan beyond the
    one inside the eager checkpoint)."""
    import re

    plan = plan_of(spark, "emb_top_pc_power")
    assert "CartesianProduct" not in plan, plan
    shuffles = len(
        re.findall(
            r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
            plan,
        )
    )
    assert shuffles <= 6, f"{shuffles} shuffles\n{plan}"
    assert plan.count("Scan parquet") <= 1, plan


def test_top_paths_and_user_features_plan_shape(spark):
    """events_top_paths (#126): no window over raw events — the
    sessionize cumulative sum and the rank-on-path-counts window only
    (path domain is bounded by the type vocabulary); one scan, <= 3
    shuffles. events_user_features (#127): the per-user aggregate is
    materialized once and the corpus anchor is its max-of-maxes, so the
    final plan re-scans events only for the modal-type branch; the
    anchor joins as a 1-row broadcast, and no cartesian."""
    import re

    plan = plan_of(spark, "events_top_paths")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Window [") <= 2, plan
    assert (
        len(
            re.findall(
                r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
                plan,
            )
        )
        <= 3
    ), plan

    plan = plan_of(spark, "events_user_features")
    assert plan.count("Scan parquet") <= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_new_event_analytics_plan_shapes(spark):
    """Plan pins for the fourth-session analytics family. Budgets from
    measured shapes; the structural claims are the load-bearing ones:
    no cartesian anywhere, the WAU range join's only nested-loop is the
    bounded day-spine broadcast, Markov computes totals as a window
    over the count table (one scan — a groupBy+join replayed the raw
    window pass), and the bootstrap's rows x B fan-out partial-
    aggregates before its exchange."""
    import re

    budgets = {
        # name: (max shuffles, max parquet scans)
        "events_rolling_wau": (4, 2),
        "events_cusum_shift": (2, 1),
        "events_markov_transitions": (3, 1),
        "events_bootstrap_ci": (3, 2),
        "events_anomaly_mad": (2, 1),
    }
    for name, (max_sh, max_scan) in budgets.items():
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        sh = len(
            re.findall(
                r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
                plan,
            )
        )
        assert sh <= max_sh, (name, sh, plan)
        assert plan.count("Scan parquet") <= max_scan, (name, plan)
        if name == "events_bootstrap_ci":
            assert "partial_sum" in plan, plan
        if name != "events_rolling_wau":
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_serve_plans_contain_no_training(spark):
    """The r8 build/serve split's plan contract: a SERVE plan must not
    replay any Lloyd-round lineage. Training lineage shows up as
    localCheckpoint scars (`Scan ExistingRDD`) and as the per-round
    centroid-update aggregates; the serve plans read the committed
    snapshot instead, so their executed plans carry neither, and the
    lean IVF-PQ plan collapses to scan-codes -> broadcast-ADC-tables ->
    one window shuffle."""
    import re

    lean = plan_of(spark, "emb_ivfpq_serve_lean")
    # exactly one Scan ExistingRDD is LEGAL: the driver-computed
    # (fixed-size) ADC-table literal relation that gets broadcast;
    # a second one would be a localCheckpoint training scar
    assert lean.count("Scan ExistingRDD") <= 1, lean
    # the data side must be the STORED codes artifact (any snapshot
    # version), nothing else — a bare FileScan of the raw embeddings
    # would mean the serve path retrained instead of reading the index
    assert re.search(r"v\d{8}[/\\]codes", lean), lean
    assert "embeddings.parquet" not in lean, lean
    shuffles = len(
        re.findall(
            r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
            lean,
        )
    )
    # one window shuffle for the per-query top-k; nothing else
    assert shuffles <= 1, lean
    assert lean.count("BroadcastExchange") <= 1, lean

    ivf = plan_of(spark, "emb_ivf_serve")
    assert "Scan ExistingRDD" not in ivf, ivf
    # codes join + top-k window; the probe side is broadcast
    ivf_shuffles = len(
        re.findall(
            r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
            ivf,
        )
    )
    assert ivf_shuffles <= 3, ivf


def test_trained_knn_join_candidate_join_stays_shuffled(spark):
    """emb_knn_join_trained (#153): the candidate join must keep the
    shuffled sort-merge strategy (both sides corpus-sized at scale) —
    broadcasts are LEGITIMATE only for the router's k-row tables
    (supers / cent_super feed every routing join); the (cell, slice)
    candidate join itself must never flip to broadcast."""
    plan = plan_of(spark, "emb_knn_join_trained")
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert any("pcell" in ln and "qslice" in ln for ln in smj), plan
    for ln in plan.splitlines():
        if "BroadcastHashJoin" in ln:
            assert "slice" not in ln, ln  # router tables only
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert any("pcell" in ln and "qslice" in ln for ln in ex), plan


def test_adc_knn_join_candidate_join_stays_shuffled(spark):
    """emb_knn_join_adc (#155): same shuffled-candidate-join contract —
    the ADC tables ride the query rows through the sort-merge join
    (no driver round-trip, no broadcast of a corpus-sized side)."""
    plan = plan_of(spark, "emb_knn_join_adc")
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert any("pcell" in ln and "qslice" in ln for ln in smj), plan
    for ln in plan.splitlines():
        if "BroadcastHashJoin" in ln:
            assert "slice" not in ln, ln
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert any("pcell" in ln and "qslice" in ln for ln in ex), plan


def test_serve_knn_join_reads_index_not_corpus_for_candidates(spark):
    """emb_knn_join_serve (#156): the stored-index join's plan contract.

    (1) The candidate join keeps the shuffled sort-merge strategy on
    (cell, slice) — same rule as #153/#155, both sides corpus-sized at
    scale. (2) Candidate scoring reads the SNAPSHOT's codes artifact —
    a scan whose schema is the code columns (cell, c0..) with NO
    embedding column — never the raw vectors: raw-table scans
    (embedding in the schema) are legal exactly thrice (query-side
    tables, query-vector refetch, shortlist corpus fetch) and none may
    carry code columns. (3) The shuffles moving candidates carry no
    vector column — the whole point of joining the 2-byte codes."""
    plan = plan_of(spark, "emb_knn_join_serve")
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert any("pcell" in ln and "qslice" in ln for ln in smj), plan
    for ln in plan.splitlines():
        if "BroadcastHashJoin" in ln and "slice" in ln:
            raise AssertionError(ln)
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    code_scans = [
        ln for ln in scans if "cell#" in ln and "embedding#" not in ln
    ]
    raw_scans = [ln for ln in scans if "embedding#" in ln]
    assert code_scans, plan
    assert len(raw_scans) <= 3, plan
    assert all("cell#" not in ln for ln in raw_scans), plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln and "adc_dist" in ln:
            assert "qq#" not in ln and "qemb#" not in ln, ln


def test_routed_serve_plan_reads_stored_router_no_training(spark):
    """emb_ivf_routed_serve (#157/#158): the stored-router serve
    contract. No Lloyd lineage on the serve path — training lineage
    shows up as localCheckpoint scars (Scan ExistingRDD) and per-round
    centroid-update aggregates; serve must use the committed router +
    codes artifacts instead. Since r13 the k-row router tables are read
    driver-side and embedded as LITERAL routing expressions (map-only —
    no router FileScan, no routing joins in the plan), so the pin is:
    candidates come from the stored codes artifact (a codes scan with
    cell but no embedding), the probe join side is a broadcast, and no
    training scars or router-table scans appear anywhere."""
    plan = plan_of(spark, "emb_ivf_routed_serve")
    assert "Scan ExistingRDD" not in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert any(
        "cell#" in ln and "embedding#" not in ln for ln in scans
    ), plan  # the stored codes artifact
    # the router is driver-embedded: its tables must NOT be rescanned
    # per routing join (the pre-r13 shape), and nothing may retrain it
    assert not any("super_cell#" in ln for ln in scans), plan
    assert "BroadcastExchange" in plan, plan


@pytest.fixture(scope="module")
def golden_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("daily") / "day.csv"
    p.write_text("\n".join(FIXTURE_ROWS) + "\n")
    return str(p)


def test_daily_summary_single_hourly_aggregate(spark, golden_csv):
    """The hourly summary is ONE aggregation over the events joined to
    their cycle: no cycle-side rollup, no FULL OUTER join between two
    rollups, no sort-merge join. The four HashAggregate nodes are the
    per-cycle bounds (broadcast side) and the hourly rollup, each as a
    partial + final pair."""
    _, summary = da.transform(da.read_events_csv(spark, golden_csv), DEFAULT_RULES)
    plan = summary._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "Outer" not in plan, plan
    assert plan.count("HashAggregate(") == 4, plan


def test_daily_run_job_budget(spark, golden_csv, tmp_path):
    """``run`` launches at most 10 Spark jobs: the cached joined frame's
    two window shuffles and broadcast, the two sinks and the two
    schema-given count readbacks."""
    sc = spark.sparkContext
    tag = "daily_run_job_budget"
    sc.addJobTag(tag)
    try:
        da.run(spark, golden_csv, str(tmp_path / "wh"), DEFAULT_RULES)
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store is fed async
    jobs = len(jsc.statusTracker().getJobIdsForTag(tag))
    assert 0 < jobs <= 10, jobs


def test_adc_knn_join_job_budget(spark):
    """emb_knn_join_adc end to end — coarse and book training, the
    residual checkpoint, the candidate join, the collect — launches at
    most 20 Spark jobs at sf0.001: the corpus is scanned, spread and
    quantized once into a checkpoint that the seed collect fills, and
    every later job reads it. Re-deriving the quantized corpus in each
    job took 26."""
    sc = spark.sparkContext
    tag = "adc_knn_join_job_budget"
    fn = all_queries()["emb_knn_join_adc"].fn
    sc.addJobTag(tag)
    try:
        assert fn(spark, SF_DIR).collect()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store is fed async
    jobs = len(jsc.statusTracker().getJobIdsForTag(tag))
    assert 0 < jobs <= 20, jobs
