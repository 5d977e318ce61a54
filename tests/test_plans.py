"""Physical-plan assertions (SURVEY.md §4): the scale properties the
engine depends on — pushdown, pruning, broadcast, top-k, partial agg —
pinned as tests so a refactor that silently degrades the plan fails CI,
not the 1000-executor run.
"""

from __future__ import annotations

import contextlib
import io

from tests.conftest import SF_DIR
from threat_detection_nosql_spark.queries.pipeline import cosine_topk
from threat_detection_nosql_spark.queries.relational import (
    pricing_summary,
    top_revenue_orders,
)
from threat_detection_nosql_spark.queries.threat import (
    after_hours_top10,
    two_hop_resource_paths,
    user_features,
)


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def final_adaptive_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_topk_compiles_to_take_ordered(spark):
    """T1: ORDER BY/LIMIT must be TakeOrderedAndProject (per-partition
    heap + driver merge of k rows), never a global Sort."""
    plan = formatted_plan(after_hours_top10(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort node


def test_events_scan_prunes_columns(spark):
    """The flagship query needs ts + user_id; `value`/`props` (the wide
    payload columns) must not reach the parquet reader."""
    plan = formatted_plan(after_hours_top10(spark, SF_DIR))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    schema_line = scan[0]
    assert "value" not in schema_line and "props" not in schema_line


def test_literal_filters_push_to_parquet(spark):
    """P-class predicates on raw columns must reach the scan as
    PushedFilters (row-group min/max skipping at scale)."""
    plan = formatted_plan(top_revenue_orders(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "c_mktsegment" in plan[plan.index("PushedFilters"):].split("\n")[0] \
        or "EqualTo(c_mktsegment" in plan


def test_dim_joins_broadcast(spark):
    """J1-class joins against small dims must be broadcast, not
    shuffled: the fact side stays in place."""
    plan = final_adaptive_plan(top_revenue_orders(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_aggregation_is_partial_then_final(spark):
    """A-class aggs must map-side combine (HashAggregate partial +
    final) inside whole-stage codegen."""
    plan = final_adaptive_plan(pricing_summary(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    # whole-stage codegen spans render as "*(n) Operator" in the tree
    assert "*(" in plan


def test_two_hop_preaggregates_before_join(spark):
    """J2: the fan-out join must see (key, count) groups, not raw
    events — both join inputs are aggregates (4+ HashAggregate nodes:
    partial+final per side, plus the final path-count agg)."""
    plan = final_adaptive_plan(two_hop_resource_paths(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4


def test_user_features_entropies_need_no_join(spark):
    """J6: the entropies never cost a shuffle of the base agg. Counts,
    distinct counts and entropies come from one events scan through one
    linear chain of three hash exchanges, with no join at all."""
    plan = final_adaptive_plan(user_features(spark, SF_DIR)) \
        .split("Initial Plan")[0]
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 3


def test_ann_baseline_broadcasts_queries(spark):
    """The exact k-NN baseline must broadcast the tiny query set and
    keep the corpus unshuffled (BroadcastNestedLoopJoin)."""
    plan = formatted_plan(cosine_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan.split("Window")[0]


def test_tfidf_topk_uses_window_group_limit(spark):
    """The per-doc top-3 must prune map-side (WindowGroupLimit
    Partial): the window exchange carries ≤k rows per (doc, task),
    not every (doc, token) score."""
    from threat_detection_nosql_spark.queries.pipeline import (
        tfidf_top_terms)
    plan = final_adaptive_plan(tfidf_top_terms(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_minhash_signatures_single_exchange(spark):
    """All 16 signature components must compute as map-side partial
    mins of ONE exploded scan — exactly one shuffle, keyed by doc."""
    from threat_detection_nosql_spark.operators.dedup import (
        minhash_signatures)
    from threat_detection_nosql_spark.sources.readers import load_table
    docs = load_table(spark, SF_DIR, "documents")
    # keep only the Final Plan section (the string also embeds the
    # pre-AQE Initial Plan, which would double-count exchanges)
    plan = final_adaptive_plan(minhash_signatures(docs)) \
        .split("Initial Plan")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan


def test_approx_user_features_avoids_expand(spark):
    """A6 scale mode: the exact distinct counts explode every event into
    (user, pc) and (user, resource) groups as well; the HLL path must
    explode only the entropy keys and expand nothing."""
    def exploded(plan):
        return next(ln for ln in plan.splitlines() if "inline(" in ln)

    exact = formatted_plan(user_features(spark, SF_DIR))
    approx = formatted_plan(user_features(spark, SF_DIR, approx=True))
    assert "pc#" in exploded(exact) and "resource#" in exploded(exact)
    assert "pc#" not in exploded(approx)
    assert "resource#" not in exploded(approx)
    assert "approx_count_distinct" in approx
    assert "Expand" not in approx


def test_hash_sample_is_scan_level_predicate(spark):
    """C1: deterministic sampling must stay a single codegen stage on
    the scan — no Exchange, no shuffle, nothing driver-side."""
    from threat_detection_nosql_spark.queries.corpus import (
        deterministic_sample,
    )
    plan = final_adaptive_plan(deterministic_sample(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "FileScan parquet" in plan


def test_packing_shuffles_once_on_shard(spark):
    """C5: per-shard packing = exactly one hash exchange on the shard
    key; the window sort is per-partition, never global."""
    from threat_detection_nosql_spark.queries.corpus import packed_sequences
    plan = final_adaptive_plan(packed_sequences(spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(source" in final
    assert "rangepartitioning" not in final  # no global sort


def test_semantic_dedup_prunes_argmax_before_shuffle(spark):
    """C8: nearest-seed assignment must use WindowGroupLimit (per-map
    top-1 pruning) so the shuffle carries ≤|seeds| candidate rows per
    vector, and the seed cross-join must broadcast the seed side."""
    from threat_detection_nosql_spark.queries.corpus import (
        semantic_cluster_dedup,
    )
    plan = final_adaptive_plan(semantic_cluster_dedup(spark, SF_DIR))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin BuildRight" in plan


def test_q3_pushes_dates_and_broadcasts_segment_dim(spark):
    """TPC-H Q3 shape: date predicates reach the parquet scans; the
    segment-filtered customer dim joins broadcast; top-10 compiles to
    TakeOrderedAndProject."""
    from threat_detection_nosql_spark.queries.tpch import (
        shipping_priority_top10,
    )
    plan = formatted_plan(shipping_priority_top10(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed), plan
    assert any("o_orderdate" in ln for ln in pushed), plan


def test_q4_exists_is_left_semi(spark):
    """The EXISTS must execute as a left-semi join (lineitem rows are
    never materialized as join payload)."""
    from threat_detection_nosql_spark.queries.tpch import (
        order_priority_counts,
    )
    plan = formatted_plan(order_priority_counts(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_pii_redaction_is_scan_side_only(spark):
    """Redaction must be a single stage: scan → project, no Exchange
    (embarrassingly parallel at any scale)."""
    from threat_detection_nosql_spark.queries.cleaning import pii_redaction
    plan = formatted_plan(pii_redaction(spark, SF_DIR))
    assert "Exchange" not in plan


def test_zorder_query_is_scan_side_only(spark):
    """The Morton key is a pure projection — no shuffle in the plan."""
    from threat_detection_nosql_spark.queries.corpus import event_zorder
    plan = formatted_plan(event_zorder(spark, SF_DIR))
    assert "Exchange" not in plan


def test_decontamination_broadcasts_benchmark_grams(spark):
    """The benchmark n-gram set must broadcast; the corpus-side n-gram
    stream must not shuffle before the join."""
    from threat_detection_nosql_spark.queries.cleaning import (
        benchmark_decontamination,
    )
    plan = formatted_plan(benchmark_decontamination(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_funnel_shuffles_once_with_stacked_windows(spark):
    """The three stage timestamps must ride ONE user-keyed exchange
    (three Window operators stacked on the same partitioning), plus a
    single-partition exchange for the final scalar agg — a 100 TB log
    shuffles exactly once."""
    from threat_detection_nosql_spark.queries.temporal import (
        funnel_conversion,
    )
    plan = final_adaptive_plan(
        funnel_conversion(spark, SF_DIR)).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 3


def test_triangles_broadcast_after_support_prune(spark):
    """After the support >= 2 prune the edge list is tiny — AQE must
    plan every wedge/closing join as broadcast (no sort-merge of the
    raw pair expansion, no cartesian)."""
    from threat_detection_nosql_spark.queries.graph_queries import (
        copurchase_triangles,
    )
    # materialize=False: the registered path checkpoints the pruned
    # edge list (lineage truncates to Scan ExistingRDD); the full
    # expansion+wedge pipeline is only visible lazily
    plan = final_adaptive_plan(
        copurchase_triangles(spark, SF_DIR, materialize=False),
    ).split("== Initial Plan ==")[0]
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q6_is_zero_shuffle_scan_aggregate(spark):
    """Q6 must compile to scan → filter → partial/final agg with NO
    hash exchange; every predicate reaches the parquet scan."""
    from threat_detection_nosql_spark.queries.tpch import (
        revenue_change_forecast,
    )
    plan = final_adaptive_plan(revenue_change_forecast(spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed), plan


def test_q17_reuses_scan_for_avg_subquery(spark):
    """The per-part average must reuse the filtered lineitem×part scan
    (ReusedExchange), not re-read the table."""
    from threat_detection_nosql_spark.queries.tpch import (
        small_quantity_revenue,
    )
    plan = final_adaptive_plan(
        small_quantity_revenue(spark, SF_DIR)).split("== Initial Plan ==")[0]
    assert "ReusedExchange" in plan


def test_curation_pipeline_broadcasts_rates_and_keeps(spark):
    """The composed filter→dedup→mix pipeline must broadcast the tiny
    rate table and never cartesian; the quality filter must reach the
    scans (n_tok/text predicates evaluate pre-shuffle)."""
    from threat_detection_nosql_spark.queries.corpus import (
        corpus_curation_pipeline,
    )
    plan = final_adaptive_plan(
        corpus_curation_pipeline(spark, SF_DIR)).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_detector_broadcasts_centroids(spark):
    """Every Lloyd assignment step must broadcast the k-row centroid
    table against the corpus — the corpus never shuffles for the
    cross join (BroadcastNestedLoopJoin), and the only hash exchanges
    key on the vector/user grain."""
    from threat_detection_nosql_spark.queries.ml_queries import (
        kmeans_fixed_anomalies,
    )
    # materialize=False: the registered path ends in an eager
    # localCheckpoint (call-scoped caches), which truncates lineage to
    # `Scan ExistingRDD` — the Lloyd joins are only visible lazily
    plan = final_adaptive_plan(
        kmeans_fixed_anomalies(spark, SF_DIR, materialize=False),
    ).split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_rolling_week_is_single_exchange_range_frame(spark):
    """The trailing-7-day window must be a RANGE frame over ONE
    custkey exchange — event-time frames never fall back to a
    self-join."""
    from threat_detection_nosql_spark.queries.relational import (
        rolling_week_order_value,
    )
    plan = final_adaptive_plan(
        rolling_week_order_value(spark, SF_DIR)).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangeframe" in plan.lower()  # specifiedwindowframe(RangeFrame,…)


def test_modal_activity_prunes_via_window_group_limit(spark):
    """Per-group mode must prune map-side (WindowGroupLimit): the
    window exchange carries candidate rows, not the full (user,
    activity) count matrix."""
    from threat_detection_nosql_spark.queries.relational import (
        user_modal_activity,
    )
    plan = final_adaptive_plan(
        user_modal_activity(spark, SF_DIR)).split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in plan


def test_vocab_truncation_is_topk_and_broadcast(spark):
    """Vocab build must truncate via TakeOrderedAndProject (driver
    holds N rows) and re-attach as a broadcast join — the token stream
    never shuffles on the join."""
    from threat_detection_nosql_spark.queries.pipeline import vocab_coverage
    plan = final_adaptive_plan(
        vocab_coverage(spark, SF_DIR)).split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_scd2_merge_is_zero_exchange(spark):
    """The SCD2 upsert must compile to unioned scan branches — zero
    exchanges, the copy-on-write rewrite shape."""
    from threat_detection_nosql_spark.queries.relational import (
        customer_scd2_merge,
    )
    plan = final_adaptive_plan(customer_scd2_merge(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Union" in plan


def test_quality_report_fk_check_is_broadcast_anti(spark):
    """The FK-orphan rule must run as a broadcast left-anti join; the
    per-rule counts union tiny aggregates."""
    from threat_detection_nosql_spark.queries.cleaning import (
        data_quality_report,
    )
    plan = final_adaptive_plan(
        data_quality_report(spark, SF_DIR)).split("== Initial Plan ==")[0]
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_every_dim(spark):
    """Q5's five joins must all be broadcast — the lineitem side never
    shuffles on a join key."""
    from threat_detection_nosql_spark.queries.tpch import (
        local_supplier_volume,
    )
    plan = final_adaptive_plan(
        local_supplier_volume(spark, SF_DIR)).split("== Initial Plan ==")[0]
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan


def test_psi_is_two_scan_bounded_shuffle(spark):
    """feature_drift_psi: the binning scan's only hash exchange keys on
    `bin` (10 rows); the global min/max and the totals ride broadcast
    1-row joins — no sort, no windows, no quantile computation."""
    from threat_detection_nosql_spark.queries.cleaning import (
        feature_drift_psi,
    )
    plan = final_adaptive_plan(
        feature_drift_psi(spark, SF_DIR)).split("== Initial Plan ==")[0]
    real_exchanges = [ln for ln in plan.splitlines()
                      if "Exchange hashpartitioning" in ln
                      and "ReusedExchange" not in ln]
    assert len(real_exchanges) == 1, real_exchanges
    assert "hashpartitioning(bin" in real_exchanges[0]
    assert "BroadcastNestedLoopJoin" in plan  # 1-row min/max + totals
    assert "Window" not in plan


def test_forward_asof_single_exchange(spark):
    """time_to_next_purchase: union + ONE user-keyed window exchange
    (plus the right side's (user, ts) dedup shuffle) — the sort-based
    as-of formulation, never a per-row probe join."""
    from threat_detection_nosql_spark.queries.temporal import (
        time_to_next_purchase,
    )
    plan = final_adaptive_plan(
        time_to_next_purchase(spark, SF_DIR)).split("== Initial Plan ==")[0]
    user_exchanges = [ln for ln in plan.splitlines()
                      if "Exchange hashpartitioning(user" in ln
                      and "ReusedExchange" not in ln
                      and ", ts" not in ln]
    assert len(user_exchanges) == 1, plan
    assert "Window" in plan
    assert "Join" not in plan


def test_countmin_probe_is_broadcast(spark):
    """countmin_token_estimates: the candidate probe joins the
    depth×width-bounded sketch via broadcast — the corpus-side token
    frame never shuffles for the probe."""
    from threat_detection_nosql_spark.queries.metrics import (
        countmin_token_estimates,
    )
    # the registered query ends in localCheckpoint; reproduce its lazy
    # probe here from the same building blocks
    import pyspark.sql.functions as F

    from threat_detection_nosql_spark.operators.sketches import (
        countmin_cells, countmin_estimates)
    from threat_detection_nosql_spark.sources.readers import load_table
    docs = load_table(spark, SF_DIR, "documents")
    ex = (docs.select(F.explode(F.split("text", r"\s+")).alias("tok"))
          .filter(F.col("tok") != "")
          .groupBy("tok").agg(F.count("*").alias("cnt")))
    sketch = countmin_cells(ex)
    cand = ex.orderBy(F.desc("cnt"), F.asc("tok")).limit(20)
    plan = final_adaptive_plan(
        countmin_estimates(sketch, cand)).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # registered query still runs end to end on the same plan
    assert countmin_token_estimates(spark, SF_DIR).count() == 20


def test_near_dup_groups_plan_is_cartesian_free(spark):
    """The group-dedup closure must stay banded: candidate generation
    is the MinHash band equi-join and the component loop is id-keyed
    joins — an all-pairs cross product anywhere would break the scale
    contract."""
    from tests.conftest import SF_DIR
    from threat_detection_nosql_spark.queries.advanced import (
        near_dup_groups)
    plan = near_dup_groups(spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round7_scans_prune_to_used_columns(spark):
    """Round-7 wave pruning pins: the SQ8 audit must scan ONLY the
    embedding column (vec_id is unused and must be pruned); the skew
    audit must scan ONLY user_id; the inverted-index build only
    (doc_id, text)."""
    from threat_detection_nosql_spark.queries.metrics import (
        key_skew_audit)
    from threat_detection_nosql_spark.queries.pipeline import (
        embedding_sq8_audit, inverted_postings)

    plan = formatted_plan(embedding_sq8_audit(spark, SF_DIR))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("embedding" in ln and "vec_id" not in ln
                         for ln in scans)

    # key_skew_audit eagerly materializes the per-key frame: the
    # downstream plan must read ONLY the checkpointed RDD — zero
    # parquet scans of the fact table survive (one scan total, paid at
    # materialization)
    plan = formatted_plan(key_skew_audit(spark, SF_DIR))
    assert "events" not in plan
    assert "ExistingRDD" in plan or "LocalTableScan" in plan

    plan = formatted_plan(inverted_postings(spark, SF_DIR))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("text" in ln and "lang" not in ln
                         and "source" not in ln for ln in scans)


def test_link_prediction_adjacency_cap_semantics(spark, tmp_path,
                                                 monkeypatch):
    """The 100-TB degree bound, on a planted hub: with the cap at 4,
    a hub with 6 spokes keeps its two support-3 neighbors first, then
    the smallest-id support-2 neighbors — so candidate pairs only ever
    involve the kept {5, 6, 1, 2}, and the dropped {3, 4} generate no
    wedges at all (per-center work is O(K²) no matter how the graph
    densifies; the 10× soak hit max degree 222)."""
    import itertools

    from pyspark.sql import functions as F

    from threat_detection_nosql_spark.queries import graph_queries as G

    rows = []
    order = 0
    for spoke, reps in [(1, 2), (2, 2), (3, 2), (4, 2),
                        (5, 3), (6, 3)]:
        for _ in range(reps):  # each order holds {hub 0, spoke}
            rows.append((order, 0))
            rows.append((order, spoke))
            order += 1
    (spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
     .write.parquet(str(tmp_path / "lineitem.parquet")))
    monkeypatch.setattr(G, "_LP_ADJ_CAP", 4)
    out = G.link_prediction_top20(spark, str(tmp_path)).collect()
    got = {(r.part_a, r.part_b) for r in out}
    kept = {5, 6, 1, 2}  # support DESC, then id ASC
    assert got == {tuple(sorted(p)) for p in
                   itertools.combinations(kept, 2)}
    assert all(3 not in p and 4 not in p for p in got)


def test_late_round7_scans_prune_to_used_columns(spark):
    """Late-round-7 wave pruning pins: Kaplan-Meier reads only
    (user_id, ts, event_type, value); Mann-Whitney only user_id;
    tokenizer fertility only (lang, source, text); the KS audit only
    (doc_id, text); the bootstrap only (o_orderkey, o_totalprice)."""
    from threat_detection_nosql_spark.queries.cleaning import (
        ks_split_drift)
    from threat_detection_nosql_spark.queries.metrics import (
        bootstrap_revenue_ci, mann_whitney_variant_test)
    from threat_detection_nosql_spark.queries.temporal import (
        kaplan_meier_conversion)
    from threat_detection_nosql_spark.queries.tokenizer import (
        tokenizer_fertility)

    # KM checkpoints the duration grid: the downstream plan must read
    # ONLY the materialized RDD (the one events scan was paid at
    # checkpoint time — key_skew_audit precedent)
    plan = formatted_plan(kaplan_meier_conversion(spark, SF_DIR))
    assert "events.parquet" not in plan and "Scan parquet" not in plan
    assert "ExistingRDD" in plan or "LocalTableScan" in plan

    plan = formatted_plan(mann_whitney_variant_test(spark, SF_DIR))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("user_id" in ln and "event_type" not in ln
                         and "value" not in ln for ln in scans)

    plan = formatted_plan(tokenizer_fertility(spark, SF_DIR))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("text" in ln and "doc_id" not in ln
                         for ln in scans)

    plan = formatted_plan(ks_split_drift(spark, SF_DIR))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("doc_id" in ln and "text" in ln
                         and "lang" not in ln and "source" not in ln
                         for ln in scans)

    plan = formatted_plan(bootstrap_revenue_ci(spark, SF_DIR))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    # the point-estimate branch prunes even o_orderkey away
    assert scans and all("o_totalprice" in ln and "o_orderdate" not in ln
                         and "o_custkey" not in ln for ln in scans)


def test_rrf_and_ndcg_broadcast_the_query_side(spark):
    """The retrieval wave's scale contract: the 8-query side joins as
    a broadcast (no shuffle of the corpus for the semantic BNL), and
    the corpus-side scans prune to the used columns."""
    from threat_detection_nosql_spark.queries.metrics import (
        ndcg_retrieval_eval)
    from threat_detection_nosql_spark.queries.pipeline import (
        rrf_hybrid_search)

    plan = formatted_plan(rrf_hybrid_search(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    scans = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "documents" in ln]
    # the documents scans feed the token pipeline only
    assert all("lang" not in ln and "source" not in ln for ln in scans)

    plan = formatted_plan(ndcg_retrieval_eval(spark, SF_DIR))
    assert "ExistingRDD" in plan or "LocalTableScan" in plan \
        or "BroadcastNestedLoopJoin" in plan


def test_round7d_scans_prune_and_broadcast(spark):
    """The analytics wave's scale contracts: fixed-bin Kendall and the
    basket rules broadcast their tiny aggregate frames (no shuffle of
    a 100-cell cross or a 25-brand support table), and every fact scan
    prunes to the columns the query touches."""
    from threat_detection_nosql_spark.queries.metrics import (
        kendall_tau_binned)
    from threat_detection_nosql_spark.queries.pipeline import (
        readability_report, template_prefix_dups)
    from threat_detection_nosql_spark.queries.relational import (
        brand_assoc_rules_top20, nation_revenue_gini)
    from threat_detection_nosql_spark.queries.temporal import (
        peak_concurrency_by_type)

    plan = formatted_plan(nation_revenue_gini(spark, SF_DIR))
    assert "BroadcastExchange" in plan          # dim joins broadcast
    scans = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "o_custkey" in ln]
    assert scans and all("o_totalprice" in ln
                         and "o_orderdate" not in ln for ln in scans)

    plan = formatted_plan(brand_assoc_rules_top20(spark, SF_DIR))
    assert "BroadcastExchange" in plan          # part dim + supports
    scans = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "l_orderkey" in ln]
    assert scans and all("l_partkey" in ln
                         and "l_quantity" not in ln for ln in scans)

    plan = formatted_plan(kendall_tau_binned(spark, SF_DIR))
    # the O(bins^2) cross is a broadcast NLJ of the 100-cell frame,
    # never a shuffle
    assert "BroadcastNestedLoopJoin" in plan
    scans = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "c_acctbal" in ln]
    assert scans and all("c_name" not in ln
                         and "c_mktsegment" not in ln for ln in scans)

    plan = formatted_plan(peak_concurrency_by_type(spark, SF_DIR))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("event_type" in ln and "ts" in ln
                         and "props" not in ln and "value" not in ln
                         for ln in scans)

    for fn, need, ban in ((readability_report, "text", "doc_id"),
                          (template_prefix_dups, "text", "lang")):
        plan = formatted_plan(fn(spark, SF_DIR))
        scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert scans and all(need in ln and ban not in ln
                             for ln in scans)


def test_wave3_scans_prune_and_window_partitioning(spark):
    """TWAP/OHLC/LTV scale contracts: every window is partitioned (no
    global sort), fact scans prune to used columns, and LTV's cohort
    sizes join as a broadcast."""
    from threat_detection_nosql_spark.queries.relational import (
        cohort_ltv_curve)
    from threat_detection_nosql_spark.queries.temporal import (
        ohlc_hourly_bars, user_twap_value)

    for fn in (user_twap_value, ohlc_hourly_bars):
        plan = formatted_plan(fn(spark, SF_DIR))
        scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert scans and all("props" not in ln for ln in scans)
        # every Window node carries a partition spec (no global sort)
        assert "Window" in plan
        for ln in plan.splitlines():
            if ln.strip().startswith("Arguments:") and "windowspec" \
                    in ln.lower():
                assert "partitionBy" not in ln or "[]" not in ln

    plan = formatted_plan(user_twap_value(spark, SF_DIR))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert all("value" in ln and "event_type" not in ln
               for ln in scans)

    plan = formatted_plan(cohort_ltv_curve(spark, SF_DIR))
    assert "BroadcastExchange" in plan          # cohort sizes
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    # the first-order branches prune o_totalprice entirely; only the
    # revenue branch reads it, and nothing reads the status/priority
    assert scans and all("o_orderstatus" not in ln
                         and "o_orderpriority" not in ln
                         for ln in scans)
    assert any("o_totalprice" in ln for ln in scans)


def test_revenue_pareto_approx_has_no_global_sort(spark):
    """The executed ntile scale swap (revenue_pareto(approx=True)):
    the decile assignment must carry NO unpartitioned window and no
    range partitioning — the exact path keeps both (that contrast is
    the point)."""
    from threat_detection_nosql_spark.queries.relational import (
        revenue_pareto)

    # round 11: the helper is SIZE-GATED — at sf0.01 the bytes gate
    # picks the lazy plain ntile (the round-9 shape); forcing the
    # distributed form (the audit_plans knob) restores the round-10
    # scale plan: pinned range-partitioned frame + per-slice
    # row_number, no single-partition ntile anywhere
    import os
    exact = formatted_plan(revenue_pareto(spark, SF_DIR))
    assert "ntile(" in exact

    os.environ["TDNS_RANKING_FORCE_DISTRIBUTED"] = "1"
    try:
        dist = formatted_plan(revenue_pareto(spark, SF_DIR))
    finally:
        del os.environ["TDNS_RANKING_FORCE_DISTRIBUTED"]
    assert "Scan ExistingRDD" in dist
    assert "row_number" in dist
    assert "ntile(" not in dist

    approx = formatted_plan(revenue_pareto(spark, SF_DIR, approx=True))
    assert "ntile(" not in approx
    assert "percentile_approx" in approx
    # decile assignment stage: broadcast of the 1-row boundary agg,
    # no rangepartitioning (global sort) anywhere before the final
    # 10-row ordering
    assert "BroadcastNestedLoopJoin" in approx \
        or "BroadcastExchange" in approx


def test_round7e_scans_prune_and_pivot_is_one_agg(spark):
    """Round-7e scale contracts: the pivot compiles to ONE aggregate
    pass over the joined frame (no per-year scan — explicit values
    list, so no distinct-discovery job either); the FK audit runs
    anti-joins with no cartesian; Benford/chi2/theil-sen scans prune
    to their used columns."""
    from threat_detection_nosql_spark.queries.metrics import (
        benford_digit_audit,
    )
    from threat_detection_nosql_spark.queries.relational import (
        _PIVOT_YEARS,
        referential_integrity_audit,
        segment_year_pivot,
    )
    from threat_detection_nosql_spark.queries.temporal import (
        theil_sen_user_trend,
    )

    plan = formatted_plan(segment_year_pivot(spark, SF_DIR))
    # one orders scan feeds every year column (pivot = conditional
    # aggregates, not |years| passes)
    orders_scans = [ln for ln in plan.splitlines()
                    if "ReadSchema" in ln and "o_totalprice" in ln]
    assert len(orders_scans) == 1, plan
    assert "CartesianProduct" not in plan

    plan = formatted_plan(referential_integrity_audit(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # 5 anti-join nodes, every one a broadcast (parent side is a dim
    # or a pre-shrunk key projection); detail blocks repeat the join
    # type, so count the tree lines
    anti_nodes = [ln for ln in plan.splitlines()
                  if "BroadcastHashJoin LeftAnti" in ln
                  or "SortMergeJoin LeftAnti" in ln]
    assert len(anti_nodes) == 5, plan

    plan = formatted_plan(benford_digit_audit(spark, SF_DIR))
    scans = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "o_totalprice" in ln]
    # the orders scan reads ONLY the price column
    assert scans and all("o_orderdate" not in ln and "o_custkey" not in ln
                         for ln in scans), plan

    plan = formatted_plan(theil_sen_user_trend(spark, SF_DIR))
    scans = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "user_id" in ln]
    assert scans and all("props" not in ln and "value" not in ln
                         for ln in scans), plan
    assert "CartesianProduct" not in plan
    assert len(_PIVOT_YEARS) == 7


def test_round9_heavy_hitter_refinement_broadcasts_candidates(spark):
    """heavy_hitter_tokens' exact-refinement pass must join the token
    explosion against the MG candidate set via BroadcastHashJoin
    (candidates ≤ k·partitions rows) — a SortMergeJoin here would
    shuffle the full token stream by token, which is exactly what the
    MG pass exists to avoid. The corpus-total scalar must ride a
    broadcast too."""
    from threat_detection_nosql_spark.queries.metrics import (
        heavy_hitter_tokens)

    plan = formatted_plan(heavy_hitter_tokens(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_round9_media_queries_prune_to_doc_id(spark):
    """The planted-media queries only need doc_id from the documents
    scan — ReadSchema must not drag the text column through the
    decode kernels."""
    from threat_detection_nosql_spark.queries.pipeline import (
        gif_decode_stats, media_resize_stats)

    for q in (gif_decode_stats, media_resize_stats):
        plan = formatted_plan(q(spark, SF_DIR))
        # these queries scan ONLY documents, so every ReadSchema line
        # is the documents scan and none may carry the text column
        scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert scan and all("text" not in ln for ln in scan), plan
