"""Scale guardrails: physical-plan assertions for the query surface.

These tests encode the 100 TB design rules: predicate pushdown, column
pruning, broadcast dimension joins, map-side partial aggregation, single
shuffle for shared window specs, and no Python evaluation in relational
operators.  A regression here is a scan/shuffle blow-up at cluster scale.
"""

from __future__ import annotations

import pytest

from pyspark_anomaly_detection_spark import plans
from pyspark_anomaly_detection_spark.registry import all_queries

REGISTRY = all_queries()


def q(name):
    return REGISTRY[name].fn


@pytest.fixture(scope="module", autouse=True)
def _drop_registry_frames(registry_df):
    """The blanket checks below are the last users of the session's
    registry frames (conftest.registry_df); free them after this module."""
    yield
    registry_df.clear()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = q("q05_filter_project")(spark, sf_dir)
    assert plans.has_pushed_filter(df, "l_shipdate"), plans.formatted_plan(df)
    assert plans.has_pushed_filter(df, "l_quantity")


def test_column_pruning_on_aggregation(spark, sf_dir):
    df = q("q01_pricing_summary")(spark, sf_dir)
    schemas = plans.read_schemas(plans.formatted_plan(df))
    assert schemas, "expected a parquet scan with ReadSchema"
    read_cols = {c.split(":")[0] for c in schemas[0].split(",")}
    # 16-column lineitem pruned to the 7 referenced columns
    assert read_cols == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }, read_cols


def test_dimension_joins_broadcast(spark, sf_dir):
    for name in ("q03_region_revenue", "q11_broadcast_dim_join"):
        df = q(name)(spark, sf_dir)
        assert plans.uses_broadcast_join(df), f"{name} should broadcast dims"


def test_no_python_eval_in_relational_path(spark, sf_dir):
    for name in (
        "q01_pricing_summary",
        "q02_top_revenue_orders",
        "q04_daily_order_summary",
        "q21_velocity_windows",
        "q24_tumbling_hourly",
        "q28_doc_stats",
        "q33_minhash_signatures",
        "q37_ann_cosine_topk",
    ):
        df = q(name)(spark, sf_dir)
        assert not plans.has_python_eval(df), f"{name} fell off the JVM path"


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    df = q("q01_pricing_summary")(spark, sf_dir)
    assert plans.has_partial_aggregation(df), "expected map-side combine"


def _distributed_reads(monkeypatch):
    """Read every table as a distributed scan, the way it plans at scale:
    with the single-partition floor at 0 no fixture table is coalesced."""
    from pyspark_anomaly_detection_spark.io import readers

    monkeypatch.setattr(readers, "SINGLE_PARTITION_MAX_BYTES", 0)


def test_shared_window_spec_single_shuffle(spark, sf_dir, monkeypatch):
    """The three behavioral frames share partition+order key → exactly one
    exchange for the window stage (reference SURVEY §4.2).  Over a
    single-partition read (a fixture-sized table) it needs none."""
    from pyspark_anomaly_detection_spark.io.readers import load_table
    from pyspark_anomaly_detection_spark.windows.features import (
        with_behavioral_features,
    )

    def frame():
        return with_behavioral_features(load_table(spark, sf_dir, "events"))

    df = frame()
    assert plans.count_shuffles(df) == 0, plans.formatted_plan(df)
    _distributed_reads(monkeypatch)
    df = frame()
    assert plans.count_shuffles(df) == 1, plans.formatted_plan(df)


def test_topk_plans_take_ordered(spark, sf_dir):
    df = q("q02_top_revenue_orders")(spark, sf_dir)
    assert "TakeOrderedAndProject" in plans.formatted_plan(df)


def test_whole_stage_codegen_active(spark, sf_dir):
    # AQE wraps the plan and reports 0 codegen subtrees until execution —
    # disable it for this static inspection only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = q("q01_pricing_summary")(spark, sf_dir)
        assert plans.has_whole_stage_codegen(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_semi_join_stays_semi(spark, sf_dir):
    plan = plans.formatted_plan(q("q09_semi_join")(spark, sf_dir))
    assert "LeftSemi" in plan
    plan = plans.formatted_plan(q("q10_anti_join")(spark, sf_dir))
    assert "LeftAnti" in plan


def test_tpch_shapes_broadcast_dims(spark, sf_dir):
    """The multi-join TPC-H shapes must broadcast their dim/keyset sides —
    a sort-merge against nation/region at 100 TB is a planning failure."""
    for name in (
        "q66_local_supplier_volume",
        "q67_returned_items_customers",
        "q68_large_quantity_orders",
        "q69_market_share",
    ):
        df = q(name)(spark, sf_dir)
        assert plans.uses_broadcast_join(df), f"{name} should broadcast dims"


def test_tpch_filters_push_to_scan(spark, sf_dir):
    df = q("q66_local_supplier_volume")(spark, sf_dir)
    assert plans.has_pushed_filter(df, "o_orderdate"), plans.formatted_plan(df)
    df = q("q67_returned_items_customers")(spark, sf_dir)
    assert plans.has_pushed_filter(df, "l_returnflag")


def test_asof_join_single_shuffle(spark, sf_dir, monkeypatch):
    """The as-of join is union-tag + one window pass: exactly one exchange
    on the key (plus the final presentation sort), never a quadratic
    range join.  Over a single-partition read it needs none."""
    from pyspark.sql import functions as F

    from pyspark_anomaly_detection_spark.io.readers import load_table
    from pyspark_anomaly_detection_spark.windows.features import asof_join

    def frame():
        ev = load_table(spark, sf_dir, "events")
        errors = ev.filter(F.col("event_type") == "error").select(
            "event_id", "user_id", "ts"
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "value"
        )
        return asof_join(errors, purchases, on="user_id", right_cols=("value",))

    df = frame()
    assert plans.count_shuffles(df) == 0, plans.formatted_plan(df)
    _distributed_reads(monkeypatch)
    df = frame()
    assert plans.count_shuffles(df) == 1, plans.formatted_plan(df)


def test_peak_concurrency_has_no_global_window(spark, sf_dir):
    """q74's running sum must stay partitioned: no empty-key
    hashpartitioning(..., 1) / SinglePartition exchange for the big side."""
    df = q("q74_peak_concurrency")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    # a global window would appear as 'Window [...]' with no 'partitionBy'
    # exchange — concretely, an Exchange SinglePartition feeding a Window
    import re

    bad = re.findall(r"Exchange SinglePartition[^\n]*\n\s*\(\d+\) Window", plan)
    assert not bad, plan


def test_contamination_check_broadcasts_eval_side(spark, sf_dir):
    df = q("q86_contamination_check")(spark, sf_dir)
    assert plans.uses_broadcast_join(df), plans.formatted_plan(df)


def test_minhash_partial_aggregation(spark, sf_dir):
    """minhash_signatures_df must keep map-side partial mins (one row per
    doc leaves each partition, not one row per shingle)."""
    df = q("q33_minhash_signatures")(spark, sf_dir)
    assert plans.has_partial_aggregation(df), plans.formatted_plan(df)


def test_correlated_shapes_plan_semi_anti(spark, sf_dir):
    """EXISTS / NOT EXISTS must lower to semi/anti joins, never to a
    row-multiplying inner join + dedup."""
    plan = plans.formatted_plan(q("q105_priority_late_shipping")(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    plan = plans.formatted_plan(q("q106_dormant_rich_customers")(spark, sf_dir))
    assert "LeftAnti" in plan, plan


def test_q107_single_lineitem_scan(spark, sf_dir):
    """q107's correlations are window counts over one (order, supplier)
    pass — the plan must scan lineitem exactly once (the self-join
    formulation scanned it three times: Catalyst does not reuse the
    duplicated subplan)."""
    import re

    plan = plans.formatted_plan(q("q107_blocking_supplier")(spark, sf_dir))
    n_scans = len(re.findall(r"Location:[^\n]*lineitem", plan))
    assert n_scans == 1, plan


def test_q105_date_filter_pushed(spark, sf_dir):
    df = q("q105_priority_late_shipping")(spark, sf_dir)
    assert plans.has_pushed_filter(df, "o_orderdate"), plans.formatted_plan(df)


def test_q108_scalar_aggregates_broadcast(spark, sf_dir):
    """Both the part dim and the 1-row global total must broadcast —
    shuffling the fact side against a scalar is a planning failure."""
    df = q("q108_brand_revenue_share")(spark, sf_dir)
    assert plans.uses_broadcast_join(df), plans.formatted_plan(df)


def test_ols_trend_partial_aggregation(spark, sf_dir):
    """q103's five integer sums must map-side combine: at 100 TB the
    shuffle carries five numbers per series per partition, not raw rows."""
    df = q("q103_ols_trend")(spark, sf_dir)
    assert plans.has_partial_aggregation(df), plans.formatted_plan(df)


def test_iqr_outliers_scalable_rank_shape(spark, sf_dir, force_scalable_grouped):
    """q104 was rebased (round 9) from a per-event_type window — five
    groups over the raw event stream, one giant task each at 100 TB —
    onto grouped_row_ids: the plan must contain the RANGE exchange on
    (event_type, value…), NO windowspec partitioned by event_type
    alone, and a broadcast join carrying the 5-row quartile dimension
    back."""
    import re

    plan = plans.formatted_plan(q("q104_iqr_outliers")(spark, sf_dir))
    lower = plan.lower()
    assert "rangepartitioning(event_type" in lower, plan
    assert "broadcast" in lower, plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", lower):
        assert "event_type" not in spec or "_pid" in spec, spec


def test_decay_smoother_stays_on_jvm(spark, sf_dir):
    """The EWMA smoother is lags + integer arithmetic — all codegen'd;
    a Python fallback here would be a 100× regression in the hot path."""
    df = q("q102_decay_smoother")(spark, sf_dir)
    assert not plans.has_python_eval(df), plans.formatted_plan(df)


def test_interval_join_avoids_nested_loop(spark, sf_dir):
    """The bucketized pure-interval join must plan a hash or sort-merge
    join on the bucket key — BroadcastNestedLoopJoin here is the O(n·m)
    cliff the formulation exists to avoid."""
    plan = plans.formatted_plan(q("q127_bucketized_interval_join")(spark, sf_dir))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_q125_broadcasts_dim_and_reuses_fact_key(spark, sf_dir):
    """Q17 shape: part dim broadcast; the per-part average joins back on
    the fact's own l_partkey partitioning."""
    df = q("q125_small_quantity_revenue")(spark, sf_dir)
    assert plans.uses_broadcast_join(df), plans.formatted_plan(df)


def test_q128_single_scan_for_all_folds(spark, sf_dir):
    """Walk-forward folds must evaluate every fold in ONE scan of orders —
    a per-fold rescan is k× the IO at 100 TB."""
    import re

    plan = plans.formatted_plan(q("q128_walk_forward_folds")(spark, sf_dir))
    scans = re.findall(r"^\s*\(\d+\) Scan parquet", plan, re.MULTILINE)
    assert len(scans) == 1, plan


def test_q130_two_hash_exchanges(spark, sf_dir, monkeypatch):
    """The capstone composite: daily agg exchange + one event_type
    partitioning reused by the lag window, both rank windows, and the
    fences — never one exchange per window.  Over a single-partition
    read it needs none."""
    import re

    def hashes():
        plan = plans.formatted_plan(q("q130_daily_anomaly_monitor")(spark, sf_dir))
        return re.findall(r"Arguments: hashpartitioning\(", plan), plan

    found, plan = hashes()
    assert len(found) == 0, plan
    _distributed_reads(monkeypatch)
    found, plan = hashes()
    assert len(found) == 2, plan


def test_sql_broadcast_hint_honored(spark, sf_dir):
    """The /*+ BROADCAST */ hint surface must reach the planner."""
    from pyspark_anomaly_detection_spark.io.readers import load_table

    load_table(spark, sf_dir, "nation").createOrReplaceTempView("_h_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_h_customer")
    df = spark.sql(
        """
        SELECT /*+ BROADCAST(_h_nation) */ n_name, COUNT(*) AS n
        FROM _h_customer JOIN _h_nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )
    assert plans.uses_broadcast_join(df), plans.formatted_plan(df)


def test_no_python_eval_in_any_oracle_query(registry_df):
    """Blanket invariant: every oracle-checked query stays on the JVM —
    Python evaluation in a relational plan is a 10-100× scale regression.
    Deliberate exceptions are declared at the registration site via
    ``python_lane=True`` (codec lanes, pyarrow footer walks, the MAD
    rank-statistic UDAF) so oracle promotion can never desync a
    test-side whitelist (round-8 lesson: q193)."""
    offenders = []
    for name, query in sorted(REGISTRY.items()):
        if query.oracle is None or query.python_lane:
            continue
        if plans.has_python_eval(registry_df(name)):
            offenders.append(name)
    assert not offenders, f"fell off the JVM path: {offenders}"


def test_python_lane_flags_are_honest(registry_df):
    """The inverse contract: every query declared ``python_lane=True``
    really does contain a Python evaluation stage.  A stale flag would
    silently exempt a future JVM-only rewrite from the blanket check."""
    dishonest = []
    for name, query in sorted(REGISTRY.items()):
        if not query.python_lane:
            continue
        if not plans.has_python_eval(registry_df(name)):
            dishonest.append(name)
    assert not dishonest, f"python_lane=True but JVM-only plan: {dishonest}"


def test_round2_tpch_shapes_broadcast_dims(spark, sf_dir):
    for name in (
        "q157_nation_trade_flows",
        "q158_product_line_profit",
        "q160_promo_revenue_share",
        "q161_disjunctive_basket_revenue",
        "q162_min_cost_supplier",
    ):
        df = q(name)(spark, sf_dir)
        assert plans.uses_broadcast_join(df), f"{name} should broadcast dims"


def test_q161_single_lineitem_scan(spark, sf_dir):
    """The OR-of-ANDs basket predicate must NOT triple the lineitem scan:
    one scan, one join, the disjunction evaluated post-join."""
    df = q("q161_disjunctive_basket_revenue")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan


def test_q158_part_filter_pushed(spark, sf_dir):
    """part is filtered on p_name BEFORE joining; the LIKE must reach
    the part scan as a pushed filter, not run post-join."""
    df = q("q158_product_line_profit")(spark, sf_dir)
    assert plans.has_pushed_filter(df, "p_name"), plans.formatted_plan(df)


def test_q166_no_nested_loop(spark, sf_dir):
    """Prefix-filtered set-similarity join must stay an equi-join on the
    prefix token — a BroadcastNestedLoopJoin here means the candidate
    generation degenerated to all-pairs."""
    df = q("q166_prefix_jaccard_pairs")(spark, sf_dir)
    assert "NestedLoop" not in plans.formatted_plan(df)


def test_q155_single_event_shuffle(spark, sf_dir):
    """Both snapshot states derive from ONE user-partitioned sort —
    exactly one events scan in the plan."""
    df = q("q155_state_transition_matrix")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("events.parquet") == 1, plan


def test_q149_edges_cached_single_documents_scan(spark, sf_dir):
    """The near-dup edge list feeds three triangle legs plus the degree
    aggregate; it must be persisted so the MinHash-LSH pipeline (and the
    documents scan under it) appears ONCE in the plan, not 4×."""
    df = q("q149_dup_graph_triangles")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("documents.parquet") <= 2, plan
    assert "InMemory" in plan, plan


def test_q156_single_scan_per_child_table(spark, sf_dir):
    """All FK edges of a child resolve in ONE pass: lineitem (3 edges,
    child-only) must appear exactly once in the plan — the naive
    per-edge count+anti-join formulation reads it six times."""
    df = q("q156_referential_integrity_audit")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan


def test_plan_audit_covers_current_registry():
    """PLAN_AUDIT.md must stay in lockstep with the registry: one row per
    registered query, no ERROR rows — regenerate with
    ``python tools/plan_audit.py`` after adding/renaming queries."""
    import os

    from pyspark_anomaly_detection_spark.registry import all_queries

    audit = os.path.join(os.path.dirname(os.path.dirname(__file__)), "PLAN_AUDIT.md")
    rows = [
        line
        for line in open(audit)
        if line.startswith("| q") and not line.startswith("| query ")
    ]
    audited = {line.split("|")[1].strip() for line in rows}
    assert audited == set(all_queries()), (
        f"stale PLAN_AUDIT.md: missing {sorted(set(all_queries()) - audited)[:5]}, "
        f"extra {sorted(audited - set(all_queries()))[:5]}"
    )
    errors = [line for line in rows if "ERROR" in line]
    assert not errors, errors[:3]


def test_bench_all_artifact_consistent():
    """The committed full-registry sweep artifact must parse, carry zero
    errors, and reference only registered queries (subset, not equality —
    the 15-minute sweep is refreshed per round, not per commit)."""
    import glob
    import json
    import os

    from pyspark_anomaly_detection_spark.registry import all_queries

    root = os.path.dirname(os.path.dirname(__file__))
    artifacts = sorted(glob.glob(os.path.join(root, "BENCH_ALL_r*.json")))
    assert artifacts, "full-registry sweep artifact missing"
    data = json.load(open(artifacts[-1]))
    assert data["errors"] == {}, data["errors"]
    unknown = set(data["queries"]) - set(all_queries())
    assert not unknown, f"artifact references unregistered queries: {unknown}"
    assert max(data["queries"].values()) <= 10.0, "tail query exceeds 10 s cap"


def test_no_cartesian_or_nested_loop_in_oracle_queries(registry_df):
    """Blanket invariant: no oracle-checked query may plan a cartesian
    product or nested-loop join between two MULTI-ROW sides.  Two benign
    patterns are whitelisted by name so any NEW accidental cartesian
    still fails the suite:

    * scalar-broadcast — a single-row aggregate (global total, threshold,
      fold spec) cross-joined into the fact; BroadcastNestedLoopJoin of a
      1-row side is O(n).
    * labeled theta — verification operators whose semantics are
      theta-only, each with a bounded/sampled input guard.
    """
    allowed_scalar_broadcast = {
        "q106_dormant_rich_customers",  # avg-acctbal scalar subquery
        "q108_brand_revenue_share",     # global-revenue threshold
        "q113_key_skew_profile",        # total-count scalar
        "q121_negative_sampling",       # corpus-size scalar
        "q123_benford_profile",         # total-count scalar
        "q128_walk_forward_folds",      # fold-spec row set vs bounded dates
        "q129_class_rebalance",         # majority-count scalar
        "q146_dormant_customers",       # avg threshold scalar
        "q149_dup_graph_triangles",     # triangle-count scalar join
        "q163_psi_value_drift",         # totals row
        "q164_categorical_drift",       # totals row
        "q64_funnel",                   # stage-count scalars
    }
    allowed_theta = {
        "q12_range_join",           # pure range theta (verification form)
        "q37_ann_cosine_topk",      # broadcast query-matrix scorer
        "q45_levenshtein_pairs",    # `<` self-join on a keyed sample
        "q52_embedding_neardup",    # exact oracle baseline (size-guarded)
        "q183_semantic_dedup_keep",  # q52's dispatch feeding components
        "q214_hard_negative_mining",  # broadcast anchor-matrix scorer
        #                               (q37's shape + label filter)
        # r11 ANN audit promotions: each embeds q37's whitelisted exact
        # fold as the audit's hash-checked reference half (the BNL is the
        # broadcast query-matrix scorer, by construction k×|Q|); the
        # approximate operator under test contributes no cartesian
        "q53_ivf_ann_topk",
        "q140_pq_ann_topk",
        "q172_mllib_brp_ann",
        "q177_mllib_ann_probe",
        "q203_mllib_ann_probe_batched",
    }
    allowed = allowed_scalar_broadcast | allowed_theta
    offenders = []
    for name, query in sorted(REGISTRY.items()):
        if query.oracle is None or name in allowed:
            continue
        plan = plans.formatted_plan(registry_df(name))
        if "CartesianProduct" in plan or "NestedLoop" in plan:
            offenders.append(name)
    assert not offenders, f"cartesian/nested-loop joins in: {offenders}"
