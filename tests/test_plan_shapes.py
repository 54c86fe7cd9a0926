"""Physical-plan shape gates for the 100 TB posture.

These are the claims SCALE.md makes, asserted on the actual plans so a
refactor cannot silently regress them: broadcast discipline (small side
broadcasts, corpus never shuffles), no all-pairs joins anywhere in the
dedup/similarity family, and filter pushdown reaching the parquet scan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ssn_college_software_architecture_assignments__spark.plans.pipeline import (
    explain_str,
)

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    from ssn_college_software_architecture_assignments__spark import all_queries

    # Plan gates must see the UNCACHED plan: a query that persist()s a
    # shared subtree (x3v's assign_cells table) registers it in the
    # CacheManager, and any later query building the same logical
    # subtree gets an InMemoryRelation substituted — semantically
    # identical, but its printed cached plan double-counts nodes the
    # gates count (the suite-order x2j/x3u BNLJ flake).
    spark.catalog.clearCache()
    return explain_str(all_queries()[name](spark, SF))


def test_decontamination_broadcasts_benchmark_side(spark):
    plan = _plan(spark, "x6d_decontamination")
    assert "BroadcastExchange" in plan, "benchmark side must broadcast"
    assert "CartesianProduct" not in plan
    # the corpus side must not sort-merge against the benchmark grams
    assert "SortMergeJoin" not in plan


def test_minhash_banding_is_never_all_pairs(spark):
    plan = _plan(spark, "x2_minhash_near_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_banding_is_never_all_pairs(spark):
    plan = _plan(spark, "x2b2_simhash_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_lsh_is_never_all_pairs(spark):
    plan = _plan(spark, "x2f_embedding_neardup_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_rescore_broadcasts_survivors_not_corpus(spark):
    """x2i's scale claim: the exact-Jaccard rescore joins the corpus
    shingle table against the BROADCAST survivor set — never all-pairs,
    and the pair expansion stays bucket-grouped (no self-join of the
    signature subtree)."""
    plan = _plan(spark, "x2i_lsh_exact_rescore")
    assert "BroadcastExchange" in plan, "survivor set must broadcast"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_pair_expansion_scans_documents_once(spark):
    """The r7 rewrite's reason to exist: the band self-join planned the
    shingle-explode + min-agg signature pass twice (two parquet scans);
    bucket-grouped expansion must keep it to ONE documents scan."""
    import re

    plan = _plan(spark, "x2_minhash_near_dedup")
    # formatted explain prints each node once in the tree and once in the
    # details; the "(N) Scan parquet" detail header counts distinct nodes
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, scans


@pytest.mark.parametrize(
    "name, node, count",
    [
        ("x2g_minhash_full_oracle", "Scan parquet", 1),
        ("x2c_ngram_jaccard", "Scan parquet", 1),
        ("x2f_embedding_neardup_lsh", "Scan parquet", 1),
        ("x5m2_hamming_near_dedup", "MapInPandas", 3),
        ("x5n2_hamming_audio_near_dedup", "MapInPandas", 3),
    ],
)
def test_bucket_pair_stage_plans_its_input_once(spark, name, node, count):
    """dedup.bucket_pairs groups the tagged rows instead of self-joining
    them, so the subtree upstream of the pair stage is planned once:
    one documents/embeddings scan for the text and vector generators,
    and each Python kernel (decode, variant, hash) once for the image
    and audio ones — a band self-join plans them once per join side."""
    import re

    nodes = re.findall(rf"\(\d+\) {node}\b", _plan(spark, name))
    assert len(nodes) == count, nodes


def test_bruteforce_ann_broadcasts_queries_not_corpus(spark):
    # brute force IS all-pairs by definition — but the broadcast side
    # must be the 8 query vectors, never the corpus
    plan = _plan(spark, "x3_similarity_bruteforce")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_quantized_ann_broadcasts_queries_not_corpus(spark):
    # same law as x3 for the int8 screen: the 8 quantized query vectors
    # broadcast; the corpus side never shuffles for the scoring pass
    plan = _plan(spark, "x3g_similarity_quantized")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_broadcast_join_has_no_fact_side_exchange(spark):
    plan = _plan(spark, "j6_broadcast_join")
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan.split("BroadcastHashJoin")[0]


def test_scan_filter_pushdown_reaches_parquet(spark):
    # representative predicate query: pushed filter visible at the scan
    plan = _plan(spark, "e2_sql_regional_revenue")
    assert "PushedFilters: [" in plan
    assert "ReadSchema" in plan


def test_salting_spreads_hot_key_across_partitions(spark):
    """J10 mechanism gate: a per-ROW salt must fan one hot key's rows
    out over ~S reducers, while bare-key partitioning necessarily piles
    them onto exactly one. (A per-KEY salt — the classic mistake — would
    leave the hot key on one reducer and this test fails.)"""
    S, PARTS = 8, 16
    hot = spark.range(4000).selectExpr("CAST(1 AS LONG) AS key", "id AS row_id")
    cold = spark.range(400).selectExpr("id + 100 AS key", "id AS row_id")
    df = hot.union(cold)

    def hot_partition_spread(frame, cols):
        return (
            frame.repartition(PARTS, *cols)
            .filter(F.col("key") == 1)
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )

    assert hot_partition_spread(df, ["key"]) == 1
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64("key", "row_id"), F.lit(S)).cast("int")
    )
    assert hot_partition_spread(salted, ["key", "_salt"]) >= S - 2


def test_semantic_dedup_confines_pairwise_to_cells(spark):
    """x2j's scale claim: the only all-pairs structure is the broadcast
    nested loop against the K=16 centroid table; the corpus-vs-corpus
    pair join must be an equi-join on the cell id (never a cartesian or
    a corpus-side broadcast nested loop)."""
    plan = _plan(spark, "x2j_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan, "centroid side must broadcast"
    # exactly the one centroid-array BNLJ appears in the tree; a second
    # BNLJ would mean the pairwise stage escaped the cell confinement.
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastNestedLoopJoin") <= 1
    # the r7 map-side-assignment claim: no Window anywhere (assignment is
    # a per-row argmax fold, top-k happens inside the cell aggregation),
    # so the only corpus shuffle is the groupBy on the cell id.
    assert "Window" not in tree


def test_pq_adc_broadcasts_tables_not_corpus(spark):
    """x3k's scale claim: every join in the plan is a broadcast form —
    the per-query distance tables and the codebook ride BroadcastExchange
    into BroadcastNestedLoopJoins, and no join ever degrades to a
    shuffled form (SortMergeJoin / ShuffledHashJoin / CartesianProduct),
    which is what losing a broadcast hint would produce. The corpus-side
    Exchanges that remain are the fixture-only round-robin spread and
    the post-scoring window partitioning, not a pre-join corpus
    shuffle."""
    plan = _plan(spark, "x3k_pq_adc_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastExchange" in plan
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert bad not in plan, bad


def test_vocab_overlap_scans_documents_once(spark):
    """x4m's one-pass claim: the diagonal-pair trick means the corpus
    distinct subtree is planned once — a separate sizes aggregate
    joined back would scan documents three times."""
    import re

    plan = _plan(spark, "x4m_source_vocab_overlap")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, scans


def test_pq_ivf_search_never_shuffles_corpus_joins(spark):
    """x3m's scale claim: the ingest is one fused map pass against the
    broadcast codebook and the scoring join is a broadcast cell
    equi-join — no join in the plan may degrade to a shuffled form."""
    plan = _plan(spark, "x3m_pq_ivf_search")
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastHashJoin" in plan
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert bad not in plan, bad


def test_threshold_sweep_scans_documents_once(spark):
    """x2m's one-pass claim: posting-list pair expansion with the
    diagonal carrying doc token counts — a posting self-join plus a
    separate sizes aggregate would scan documents three times."""
    import re

    plan = _plan(spark, "x2m_threshold_sweep")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, scans


def test_interval_grid_join_is_equi_not_nested_loop(spark):
    """j12's reason to exist: the both-sides-big interval join must plan
    as a hash/merge EQUI-join on the grid cell — a nested loop or
    cartesian means the grid rewrite regressed to all-pairs."""
    plan = _plan(spark, "j12_interval_grid_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_near_dedup_probes_index_never_self_joins(spark):
    """x2n's scale claim: the batch probes the corpus band index via an
    equi-join — no all-pairs structure anywhere."""
    plan = _plan(spark, "x2n_incremental_near_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _global_window_args(plan: str) -> list[str]:
    """Arguments lines of Window nodes with NO partition spec (the
    single-partition scale-killer). A fully-specified partitioned
    Window's Arguments has three bracket groups ([exprs], [partition],
    [order]); EMPTY trailing groups are omitted from the text, so two
    groups is ambiguous: partitioned-without-ORDER (safe — w12's matrix
    window) or ordered-without-partition (the hazard — w4). Content
    tells them apart: an order list's entries carry ASC/DESC, a
    partition list's never do. Verified on w4 (global, trips) vs
    s16b/w1 (partitioned+ordered) vs w12 (partitioned, orderless —
    must NOT trip)."""
    import re

    lines = plan.splitlines()
    bad = []
    for i, line in enumerate(lines):
        if re.match(r"\(\d+\) Window\b", line.strip()):
            for j in range(i + 1, min(i + 6, len(lines))):
                s = lines[j].strip()
                if s.startswith("Arguments:"):
                    groups = s.split("], [")
                    if len(groups) < 3 and (
                        len(groups) < 2
                        or " ASC" in groups[-1]
                        or " DESC" in groups[-1]
                    ):
                        bad.append(s)
                    break
    return bad


def test_quartile_cutpoints_has_no_window_at_all(spark):
    """w4b's reason to exist: quartile assignment from broadcast
    quantile cutpoints — no Window node anywhere, cutpoint fold
    broadcasts back."""
    plan = _plan(spark, "w4b_quartile_cutpoints")
    assert "Window" not in plan
    assert "BroadcastExchange" in plan, "cutpoint fold must broadcast"


def test_quality_deciles_scalable_has_no_window_at_all(spark):
    """x4n2: decile stratification without the global ntile — no Window
    node anywhere in the plan."""
    plan = _plan(spark, "x4n2_quality_deciles_scalable")
    assert "Window" not in plan
    assert "BroadcastExchange" in plan, "cutpoint fold must broadcast"


def test_zorder_scalable_never_windows_on_a_single_partition(spark):
    """s16b: ranking happens INSIDE morton-range buckets — every Window
    node must carry a partition spec (the global-sort form is exactly
    what this twin replaces), and the offsets stitch must broadcast."""
    plan = _plan(spark, "s16b_zorder_layout_scalable")
    assert "Window" in plan, "bucket-local ranking should be a Window"
    assert _global_window_args(plan) == []
    assert "BroadcastExchange" in plan


def test_global_window_detector_catches_w4(spark):
    """Self-test of the detector: the deliberate single-partition w4
    MUST trip it — if Spark's plan text format changes, this fails
    first, not the real gates silently passing."""
    plan = _plan(spark, "w4_ntile_percent_rank")
    assert len(_global_window_args(plan)) == 1


def test_paragraph_near_dedup_is_never_all_pairs(spark):
    """x2p: paragraph-level LSH banding must stay an equi-join — same
    gate as the doc-level x2 family."""
    plan = _plan(spark, "x2p_paragraph_near_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_waiting_orders_decorrelates_to_semi_and_anti_joins(spark):
    """e2_sql_waiting_orders (Q21 shape): both correlated subqueries
    must decorrelate — a LeftSemi for the EXISTS, a LeftAnti for the
    NOT EXISTS — never per-row subquery execution or a cartesian."""
    plan = _plan(spark, "e2_sql_waiting_orders")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_dormant_customers_plans_anti_join_and_scalar_broadcast(spark):
    """e2_sql_dormant_customers (Q22 shape): the NOT EXISTS must
    decorrelate to a LeftAnti join and the scalar average must not
    trigger a cartesian."""
    plan = _plan(spark, "e2_sql_dormant_customers")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_cross_source_gram_flow_scans_documents_once(spark):
    """x2r's one-pass claim: the diagonal-pair trick carries gram-set
    sizes in the same aggregate as the intersections — a sizes
    aggregate joined back would re-plan the distinct-gram subtree."""
    import re

    plan = _plan(spark, "x2r_cross_source_gram_flow")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, scans


def test_substring_span_dedup_two_scans_no_all_pairs(spark):
    """x2s: gram corpus frequencies attach via a gram-partitioned
    window over a SINGLE corpus scan (a join against a derived
    dup-gram set would plan the explode subtree twice), and the trim
    rejoins documents exactly once — two parquet scans total, never a
    pairwise stage."""
    import re

    plan = _plan(spark, "x2s_substring_span_dedup")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 2, scans
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_top_supplier_scalar_subquery_never_nested_loop(spark):
    """e2_sql_top_supplier (Q15 shape): the max-revenue comparison must
    plan as a scalar subquery (one-row broadcast into the predicate),
    never a nested-loop/cartesian against the revenue view."""
    plan = _plan(spark, "e2_sql_top_supplier")
    assert "Subquery" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_forecast_revenue_pushes_all_predicates_to_scan(spark):
    """e2_sql_forecast_revenue (Q6 shape) is the pushdown floor: every
    range predicate must reach the parquet scan, and the only plan
    nodes above it are the two-phase 1-row aggregate (no join, no wide
    exchange)."""
    plan = _plan(spark, "e2_sql_forecast_revenue")
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"PushedFilters: [" in plan and col in plan.split("PushedFilters: [")[1].split("]")[0], col
    assert "Join" not in plan


def test_importance_resample_plan_shape(spark):
    """x6m: three parquet scans (vocab, join probe, normalizer — the
    documented no-subtree-sharing shape; a production run persists
    vocab), the only nested-loop is the 1-row normalizer broadcast,
    and never a cartesian."""
    import re

    plan = _plan(spark, "x6m_importance_resample")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 3, scans
    assert "CartesianProduct" not in plan


def test_bfd_packing_single_scan_single_shuffle(spark):
    """x6b2: the greedy fold happens inside a JVM HOF after ONE
    per-source grouping — one parquet scan, no join of any kind."""
    import re

    plan = _plan(spark, "x6b2_bfd_packing")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, scans
    assert "Join" not in plan


def test_mrl_refine_plan_shape(spark):
    """x3q: four scans (queries + corpus for the prefix pass, corpus +
    queries again for the rescore — the funnel's two stages), broadcast
    shortlist/queries only (the nested-loop is the deliberate
    8-query-row broadcast, as in x3), never a cartesian."""
    import re

    plan = _plan(spark, "x3q_mrl_refine_topk")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 4, scans
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_kmeans_step_three_scans_broadcast_centroids(spark):
    """x3r: assignment is a per-vector FOLD over the one-row broadcast
    centroid array — NO Window node anywhere (the review-caught first
    cut ranked a crossJoin expansion with a vec_id window, shuffling
    every embedding), three parquet scans total (corpus + centroids
    twice), never a cartesian."""
    import re

    plan = _plan(spark, "x3r_kmeans_step")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 3, scans
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_containment_rescore_is_never_all_pairs(spark):
    """x2v: same discipline as the whole x2 family — banding equi-join
    for candidates, broadcast survivor set for the exact intersection,
    never a pairwise corpus stage."""
    plan = _plan(spark, "x2v_containment_rescore")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" in plan


def test_not_in_probe_plans_hash_anti_joins(spark):
    """u6: BOTH legs must plan as broadcast-hash LeftAnti joins (the
    NOT IN leg through Spark's null-aware anti-join optimization) —
    never a nested-loop over orders x customer, which is the silent
    O(n*m) fallback if that optimization is disabled."""
    plan = _plan(spark, "u6_not_in_null_semantics")
    assert plan.count("BroadcastHashJoin LeftAnti") == 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bigram_logprob_plan_shape(spark):
    """x4s: four parquet scans (occ is planned thrice — c2, c1, the
    probe — plus vocab; the documented no-sharing shape, persisted at
    production scale), the only nested-loop is the 1-row vocab
    broadcast, never a cartesian or sort-merge join."""
    import re

    plan = _plan(spark, "x4s_bigram_logprob")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 4, scans
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_retention_cohorts_no_global_window(spark):
    """w12: the only window walks the (cohorts x offsets) matrix
    PARTITIONED BY cohort — the global-window detector must find
    nothing, and the user-keyed join must not degenerate."""
    plan = _plan(spark, "w12_retention_cohorts")
    assert len(_global_window_args(plan)) == 0
    assert "CartesianProduct" not in plan


def test_promising_parts_is_a_semi_join_stack(spark):
    """e2_sql_promising_parts (Q20 shape): the nested IN-subqueries
    must decorrelate into a semi-join STACK — the part-name IN as a
    LeftSemi under the lineitem aggregate, and the grouped HAVING
    result as a LeftSemi against supplier — never a correlated
    nested-loop or cartesian re-execution, with the date range and
    name prefix pushed to the scans."""
    plan = _plan(spark, "e2_sql_promising_parts")
    assert plan.count("LeftSemi") >= 2, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = plan.split("PushedFilters: [")
    assert any("l_shipdate" in seg.split("]")[0] for seg in pushed[1:])
    assert any("StringStartsWith(p_name" in seg.split("]")[0] for seg in pushed[1:])


def test_supplier_part_counts_excludes_via_anti_join(spark):
    """e2_sql_supplier_part_counts (Q16 shape): the NOT IN exclusion
    (non-null key side) must plan as a broadcast anti-join feeding the
    grouped COUNT DISTINCT — never a nested-loop per fact row."""
    plan = _plan(spark, "e2_sql_supplier_part_counts")
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_span_dedup_mapcombine_twin_plan_shape(spark):
    """x2s3: the gram-frequency attach must be a map-combined
    partial+final HashAggregate on gh plus an equi-join — NOT a
    gram-partitioned window (x2s's shape, whose hot-gram task has no
    partial aggregation). Exactly the 3 doc-partitioned windows of the
    run/merge stage remain, and the occ-planned-twice cost is pinned at
    3 documents scans (a production run persists occ)."""
    import re

    plan = _plan(spark, "x2s3_span_dedup_mapcombine")
    assert "partial_count" in plan, "gram count must map-side combine"
    assert len(re.findall(r"\(\d+\) Window", plan)) == 3, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_countmin_sketch_build_is_map_combined(spark):
    """a14: the sketch build must be a partial+final HashAggregate
    (partition sketches ADD — the mergeable-partials property), the
    probe join must broadcast the d*w-row sketch, and nothing plans
    all-pairs."""
    plan = _plan(spark, "a14_countmin_sketch")
    assert "partial_count" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_prefix_filter_join_is_never_all_pairs(spark):
    """x2w: candidates must come from the prefix equi-join on shingle
    hashes — never a cartesian/nested-loop over document pairs (the
    exact-similarity-join point), with the verify joining full sets
    only for candidates."""
    for name in ("x2w_prefix_filter_join", "x2w2_prefix_filter_full_corpus"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_prefix_filter_plans_its_fingerprint_table_once(spark):
    """x2w/x2w2: the prefix filter reads its fingerprint table in four
    branches (document-frequency count, join back, both verify sides).
    The table is persisted lazily, so its producer is planned ONCE —
    x2w's absorbed-docs self-join scans documents twice, x2w2 scans
    them once — and it is not hidden behind an eager build-time
    checkpoint (which would leave no scan in the printed plan)."""
    import re

    for name, n_scans in (
        ("x2w_prefix_filter_join", 2),
        ("x2w2_prefix_filter_full_corpus", 1),
    ):
        plan = _plan(spark, name)
        scans = re.findall(r"\(\d+\) Scan parquet", plan)
        assert len(scans) == n_scans, (name, scans)
        assert "InMemoryRelation" in plan, name
    spark.catalog.clearCache()


def test_mode_and_mor_windows_run_as_group_limit(spark):
    """a15 / s21: the per-group top-1 windows must execute as
    WindowGroupLimit (rank pushed into the shuffle — each map task
    forwards at most one candidate per key), so neither the mode nor
    the merge-on-read resolve ever materializes full per-key history."""
    for name in ("a15_grouped_mode", "s21_merge_on_read"):
        plan = _plan(spark, name)
        assert "WindowGroupLimit" in plan, name
        assert "CartesianProduct" not in plan, name


def test_dpp_join_injects_dynamic_pruning(spark):
    """s22: the fact side's partition filter is only known at runtime
    (the predicate sits on the dim), so the partitioned scan must carry
    an injected dynamicpruningexpression — 3 of ~80 month directories
    read, with no static predicate on the fact."""
    plan = _plan(spark, "s22_dpp_pruned_join")
    assert "dynamicpruning" in plan.lower()
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_injects_might_contain(spark):
    """The non-partition-key face of runtime filtering: with the rule
    enabled (thresholds floored — locally every table sits under the
    10 GB application-side default that gates injection at real scale),
    a selective dim predicate must inject a bloom_filter_agg on the dim
    and a might_contain probe into the fact scan's filter. Isolated on
    a newSession so the floored thresholds never leak into other
    queries' plans."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = s2.read.parquet(f"{SF}/lineitem.parquet")
    pt = s2.read.parquet(f"{SF}/part.parquet").filter("p_brand = 'Brand#1'")
    df = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = explain_str(df)
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan


def test_skew_histogram_has_no_window(spark):
    """a16: the quantile bucketing must run as the w4b no-window shape
    (exact percentile_approx fold + broadcast + map-side HOF) — a
    Window node here would mean the profile funnels the key table
    through one reducer, exactly the failure it exists to predict."""
    plan = _plan(spark, "a16_skew_histogram_2d")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_knn_graph_confines_pairs_to_cells(spark):
    """x3u (r19 shape): pairing rides the cell-keyed i<j MERGE join —
    never a CartesianProduct and never a broadcast of a corpus side
    (the only broadcast-shaped joins are the 1-row centroid-array
    crossJoins) — and the per-vector top-k is a Window partitioned on
    the pair proxy's vid, with Spark's WindowGroupLimit pushing the
    rank<=k cut below the exchange so no full pair set is ever
    sorted globally."""
    plan = _plan(spark, "x3u_ivf_knn_graph")
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastNestedLoopJoin") <= 2  # 1-row cent_arr folds
    assert "BroadcastHashJoin" not in tree  # corpus sides must not broadcast
    assert "SortMergeJoin" in tree  # the i<j pair join on cell
    # per-vector top-k window on vid, group-limit pushed below the shuffle
    assert "windowspecdefinition(vid" in plan
    assert "WindowGroupLimit" in tree


def test_r11_additions_never_plan_all_pairs(spark):
    """Blanket no-all-pairs gate over the round-11 additions that lack
    a dedicated shape gate: none of them may plan a CartesianProduct,
    and the two scalar-broadcast ones may carry at most one
    BroadcastNestedLoopJoin (the 1-row fold crossJoin pattern)."""
    for name in (
        "x1d_url_dedup_report",
        "x4w_gopher_rules",
        "x6s_decontaminated_mixture",
        "x6t_curriculum_anneal",
        "f5_cogrouped_asof",
        "a8b_unpivot",
        "x2y_lsh_parameter_planner",
        "s23_generation_vacuum",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_aqe_skew_join_splits_hot_partition_at_runtime(spark):
    """j10b: the final adaptive plan must carry the runtime skew
    rewrite — ``SortMergeJoin(skew=true)`` with a skewed AQEShuffleRead
    — proving OptimizeSkewedJoin actually split the planted hot
    partition (j10's salting is the manual fallback; this is the knob
    a user turns first at 100x). Runtime evidence needs an executed
    plan, so this gate runs the query (sf0.01: sf0.001's hot partition
    is only ~2 advisory units wide — too thin a split margin to pin)."""
    from ssn_college_software_architecture_assignments__spark.operators.joins import (
        j10b_skew_evidence,
    )

    spark.catalog.clearCache()
    plan = j10b_skew_evidence(spark, "/root/testdata/sf0.01")
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, "runtime skew split did not fire"
    assert "CartesianProduct" not in plan


def test_r12_additions_never_plan_all_pairs(spark):
    """Blanket no-all-pairs gate over the round-12 batch additions that
    lack a dedicated shape gate (j10b, x1e, x3w have their own; t6c is
    streaming and exercised by test_streaming): none may plan a
    CartesianProduct. Building at sf0.001 also smoke-proves each at the
    smallest fixture."""
    for name in (
        "x6u_epoch_reshuffle_manifest",
        "s7d_mongomock_upsert",
        "s7e_mongomock_readback",
        "s24_incremental_file_ledger",
        "w14_time_weighted_avg",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_x3v_truth_leg_broadcasts_probes_not_corpus(spark):
    """x3v: the brute-force truth leg must broadcast the 32 probe rows
    against the map-side corpus (the x3-brute law) — a corpus-side
    broadcast or a cartesian would invert the scale story."""
    plan = _plan(spark, "x3v_knn_graph_recall")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_x1e_bloom_probe_broadcasts_the_filter(spark):
    """x1e: the 64-word bloom must BROADCAST to the probe side (that is
    the whole point — the corpus membership collapses to a constant
    table) and nothing may plan all-pairs; the exact-truth join is the
    audit leg and may shuffle."""
    plan = _plan(spark, "x1e_bloom_prescreen")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_x3w_repair_never_plans_all_pairs(spark):
    """x3w (r19 shape): corpus-sized pairing rides the cell equi-joins
    (probe frame x members, home-graph i<j self-join) as MERGE joins —
    no CartesianProduct anywhere and no BroadcastHashJoin of a
    corpus-sized side (the pre-r19 collect_list form let the planner
    broadcast a whole-cell aggregate); per-vector top-k windows see
    only the narrow (q_id, nid, cos) proxy. The 1-row count/centroid
    folds keep their broadcasts."""
    plan = _plan(spark, "x3w_knn_graph_multiprobe_repair")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" in tree
    assert "BroadcastHashJoin" not in tree


def test_x5m2_band_join_never_plans_all_pairs(spark):
    """x5m2: candidate pairing must ride the (band_idx, band_val)
    equi-join — a CartesianProduct or a broadcast nested loop over the
    distinct-hash table would mean the `<` tiebreak leaked into the
    join strategy and the multi-index pruning is gone (the whole point
    at corpus scale). The dhash inequality must stay a post-join
    condition on the hash/sort-merge join."""
    plan = _plan(spark, "x5m2_hamming_near_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_x4u_query_side_broadcasts(spark):
    """x4u: the declared query table (and the 31-row df table) must
    BROADCAST into the term-keyed inverted-index join — a shuffled join
    against a handful of query terms would shuffle the corpus tf table
    for nothing. The only nested-loop shape allowed is the 1-row
    avgdl/N broadcast; no CartesianProduct anywhere."""
    plan = _plan(spark, "x4u_bm25_retrieval")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_s25_psi_audit_no_window_and_broadcast_folds(spark):
    """s25's scale claim: the whole audit is aggregates + broadcast-back
    folds — cutpoints, per-column totals, and the PSI sum all ride
    1-row/tiny broadcasts, NEVER a Window (a global-order window here
    would funnel both generations through one reducer), and nothing
    plans all-pairs."""
    plan = _plan(spark, "s25_generation_drift_audit")
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_x6v_chunking_is_map_only_with_broadcast_totals(spark):
    """x6v: chunk derivation (split/sequence/slice/md5) must stay in
    map stages — the only join is the broadcast per-source totals fold
    and nothing plans all-pairs; no Window anywhere (a per-doc window
    would shuffle document text for arithmetic the stride law computes
    per row)."""
    plan = _plan(spark, "x6v_chunk_overlap_manifest")
    tree = plan.split("\n\n")[0]
    assert "BroadcastExchange" in plan
    assert "Window" not in tree
    assert "CartesianProduct" not in plan


def test_x3x_admission_is_one_scan_no_window(spark):
    """x3x: assignment must be the per-row argmax fold over the
    broadcast centroid row (no Window anywhere — a row_number over the
    n x K crossJoin would shuffle 16x-inflated corpus rows), the batch
    flag a map-side predicate, and the only table shuffle the
    (cell, dim) hash-aggregate; no CartesianProduct."""
    import re

    plan = _plan(spark, "x3x_incremental_ivf_admission")
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the embeddings parquet is scanned once for the members, once for
    # the 16-row centroid side, and once (column-pruned) for the cheap
    # total_after count — never a second assignment pass
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) <= 3, scans


def test_x5n2_band_join_never_plans_all_pairs(spark):
    """x5n2: same law as x5m2 for the audio fingerprints — candidate
    pairing must ride the (fp_len, band_idx, band_val) equi-join; no
    CartesianProduct, no broadcast nested loop over the distinct
    fingerprint table."""
    plan = _plan(spark, "x5n2_hamming_audio_near_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_x6w_benchmark_side_broadcasts(spark):
    """x6w: the x6d posture per chunk — the benchmark gram index must
    BROADCAST and the chunked corpus must never sort-merge against it
    or plan all-pairs; chunk derivation stays map-only upstream of the
    probe join."""
    plan = _plan(spark, "x6w_chunk_decontamination")
    assert "BroadcastExchange" in plan, "benchmark side must broadcast"
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_x2e2_pair_stage_is_inverted_index_not_all_pairs(spark):
    """x2e2: the iterative closure localCheckpoints (its final plan
    can't witness candidate generation), so gate the shared-gram pair
    stage directly — it must plan the gram inverted-index equi-join,
    never a CartesianProduct or a nested loop over the corpus."""
    from ssn_college_software_architecture_assignments__spark.catalog import Catalog
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2e2_shared_gram_pairs,
    )

    spark.catalog.clearCache()
    docs = Catalog(spark, SF).documents.filter(F.col("doc_id") < 200)
    plan = explain_str(x2e2_shared_gram_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # x2e2b feeds the SAME site the UNRESTRICTED corpus — the uncapped
    # closure must keep the inverted-index shape too
    full_plan = explain_str(x2e2_shared_gram_pairs(Catalog(spark, SF).documents))
    assert "CartesianProduct" not in full_plan
    assert "BroadcastNestedLoopJoin" not in full_plan


def test_x2e3_probe_stage_is_postings_join_not_all_pairs(spark):
    """x2e3's batch->corpus probe (the incremental edge generator) must
    plan the gram-postings equi-join — never a CartesianProduct or a
    nested loop; the corpus side never self-joins in this stage."""
    from ssn_college_software_architecture_assignments__spark.catalog import Catalog
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2e3_probe_pairs,
    )

    spark.catalog.clearCache()
    docs = Catalog(spark, SF).documents
    plan = explain_str(
        x2e3_probe_pairs(
            docs.filter(F.expr("doc_id % 10 = 0")),
            docs.filter(F.expr("doc_id % 10 <> 0")),
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_x4z_mmr_rerank_stays_candidate_sized(spark):
    """x4z: everything past x4u's own scan is top-k-per-query sized —
    the pairwise-sim stage is a candidate-postings equi-join and the
    fold a per-query HOF; no CartesianProduct anywhere, and x4u's
    broadcast-query discipline must survive the composition."""
    plan = _plan(spark, "x4z_mmr_diversified_retrieval")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_x4z2_chunk_mmr_stays_candidate_sized(spark):
    """x4z2: the x4z posture at chunk granularity — candidate-postings
    equi-join for the k^2 sims, per-query JVM fold, x6x's broadcast
    discipline surviving the composition, no CartesianProduct."""
    plan = _plan(spark, "x4z2_chunk_mmr_rerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_x4v_fusion_broadcasts_queries_and_anchors(spark):
    """x4v: the sparse leg must keep x4u's broadcast-query shape and the
    dense leg must broadcast the 4 anchor vectors against the map-side
    corpus (the x3-brute law) — never a CartesianProduct. The anchor
    inequality join is the 1-row-side BNLJ the gates permit."""
    plan = _plan(spark, "x4v_hybrid_rrf_fusion")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_x6x_chunk_bm25_keeps_broadcast_query_shape(spark):
    """x6x: the x4u posture over the chunk table — query set and
    query-pruned df broadcast into the term-keyed inverted index;
    chunk derivation stays map-only upstream; no CartesianProduct
    (the 1-row stats crossJoin plans as the permitted BNLJ)."""
    plan = _plan(spark, "x6x_chunk_bm25_retrieval")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_x5r_band_join_never_plans_all_pairs(spark):
    """x5r: clip candidate pairing must ride the (n_sampled, pos,
    band_idx, band_val) equi-join over DISTINCT fingerprints — no
    CartesianProduct, no broadcast nested loop anywhere in the clip
    pipeline (the x5m2/x5n2 law, lifted to clips)."""
    plan = _plan(spark, "x5r_video_near_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_x4x_eval_keeps_broadcast_query_shape(spark):
    """x4x: the grades scan joins the BROADCAST query table (never a
    corpus-side shuffle on the tiny side), the composed x4u leg keeps
    its broadcast-query posture, and nothing plans a CartesianProduct
    (the 1-row stats crossJoin is the permitted BNLJ)."""
    plan = _plan(spark, "x4x_retrieval_eval")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_w15_gaps_islands_is_window_plus_hashagg(spark):
    """w15: the islands rewrite must stay join-free — one user-keyed
    window over distinct user-days and hash-aggs, never a self-join
    (the naive gaps-and-islands formulation) or a cartesian stage."""
    plan = _plan(spark, "w15_gaps_islands")
    assert "CartesianProduct" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert node not in plan


def test_x3y_mips_corpus_never_shuffles_before_kernel(spark):
    """x3y: the corpus streams into the matmul kernel map-side — no
    join of any kind in the plan (queries ride the kernel closure), and
    the only exchange feeds the tiny candidate window (batches x Q x k
    rows), never the corpus."""
    plan = _plan(spark, "x3y_mips_matmul_topk")
    assert "CartesianProduct" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin"):
        assert node not in plan


def test_x2z_audit_builds_pairs_from_indexes_only(spark):
    """x2z: both pair stages ride equi-joins — the shingle inverted
    index for truth and the (band_idx, band_hash) bucket join for
    candidates — never a CartesianProduct or nested-loop pair stage
    (the tiny threshold/n_cand crossJoins plan as the permitted
    1-row/3-row BNLJ)."""
    plan = _plan(spark, "x2z_lsh_quality_audit")
    assert "CartesianProduct" not in plan


def test_x2j2_prune_confines_pairwise_to_trained_clusters(spark):
    """x2j2's scale claim: NO pair join exists at all — the quadratic
    prune lives INSIDE the cluster-keyed aggregate, so the only
    all-pairs structure in the tree is the broadcast nested loop
    against the 1-row trained-centroid array, the only corpus shuffle
    is the groupBy on the cluster id, and assignment is the map-side
    argmin fold (no Window anywhere)."""
    plan = _plan(spark, "x2j2_semdedup_prune")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    tree = plan.split("\n\n")[0]
    # the r18 guard pre-aggregation replays the assignment subtree
    # (count branch + fold branch), so the 1-row trained-centroid
    # array's nested loop prints twice — neither is corpus-sided
    assert tree.count("BroadcastNestedLoopJoin") <= 2
    assert "Window" not in plan
    assert "hashpartitioning(cid" in plan, "corpus shuffle must key on cluster"
    assert "BroadcastHashJoin" in plan, "guarded counts must broadcast"


def test_x2e4_retraction_slices_touched_components_only(spark):
    """x2e4's scale claim: the re-closure input is the SURVIVING
    members of tombstone-touched standing clusters, derived by
    semi-joins (never a full-corpus rebuild), and re-shingling that
    slice plans the gram inverted-index equi-join — no all-pairs
    structure anywhere."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2e2_shared_gram_pairs,
        x2e4_surviving_docs,
    )

    spark.catalog.clearCache()
    members, subdocs = x2e4_surviving_docs(spark, SF)
    plan = explain_str(subdocs)
    assert "LeftSemi" in plan, "touched slice must be semi-join derived"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pair_plan = explain_str(x2e2_shared_gram_pairs(subdocs))
    assert "CartesianProduct" not in pair_plan
    assert "BroadcastNestedLoopJoin" not in pair_plan


def test_x3z_trained_ivf_scoring_is_cell_equi_join(spark):
    """x3z's scale claim: assignment and probe selection are map-side
    broadcast argmin folds (the 1-row centroid crossJoins), and the
    scoring join is a cell EQUI-join of the queries-x-nprobe probe rows
    against the cell-keyed corpus — no join may degrade to a shuffled
    or all-pairs form."""
    plan = _plan(spark, "x3z_trained_ivf_topk")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan, "cell scoring join must broadcast"


def test_x3x2_split_work_is_keyed_on_flagged_cells_only(spark):
    """x3x2's scale claim: the only corpus-wide work is the ONE
    map-side assignment scan (its 1-row centroid broadcast is the
    single nested-loop join) plus a K-row occupancy aggregate — every
    split stage (seed elections, the Lloyd step) runs on the member
    slice reached by an EQUI-join against the <= K-row broadcast
    flagged set, so no split work can touch an untouched cell. No
    window, no pairwise stage, no sort-merge join anywhere."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x3x2_flagged_members,
    )
    from ssn_college_software_architecture_assignments__spark import all_queries

    spark.catalog.clearCache()
    assigned, flagged, members, _cent = x3x2_flagged_members(spark, SF)
    try:
        mplan = explain_str(members)
        assert "BroadcastHashJoin" in mplan, "flagged set must broadcast-equi-join"
        assert "CartesianProduct" not in mplan
        assert "SortMergeJoin" not in mplan
        tree = mplan.split("\n\n")[0]
        # the UNCACHED printed plan repeats the persisted assignment
        # subtree (occupancy branch, totals branch, member slice), so
        # its single 1-row centroid-array BNLJ prints three times plus
        # one for the 1-row totals crossJoin — four 1-row broadcasts,
        # zero corpus-sided nested loops (at run time the persist
        # collapses the replays to one)
        assert tree.count("BroadcastNestedLoopJoin") <= 4
    finally:
        assigned.unpersist()
    spark.catalog.clearCache()
    plan = explain_str(all_queries()["x3x2_ivf_cell_split"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    spark.catalog.clearCache()


def test_x6q2_leakage_audit_carries_the_pair_site_gate(spark):
    """x6q2's scale claim: the family split itself is map-side over
    the closure labels (zero new shuffles), and the recomputed
    leakage audit composes the SAME inverted-index pair site x2e2 is
    gated on — nothing in the composed plan may degrade to an
    all-pairs structure."""
    plan = _plan(spark, "x6q2_cluster_coherent_split")
    assert "CartesianProduct" not in plan
    # the only nested-loop join is the 1-row leaked_pairs total glued
    # onto the distribution rows — never a corpus-sided pair structure
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastNestedLoopJoin") <= 1


def test_x3z2_post_split_scoring_is_broadcast_cell_equi_join(spark):
    """x3z2's scale claim (the x3z posture over the post-split
    partition): probe selection is a per-row sort/slice fold over the
    ONE broadcast centroid-array row, and the scoring join is a
    BROADCAST cell equi-join of the queries-x-nprobe probe rows
    against the cell_after-keyed corpus — no join may degrade to a
    shuffled or all-pairs form. (The printed uncached plan replays the
    persisted assignment subtree many times, so 1-row nested-loop
    broadcasts appear repeatedly; none of them is corpus-sided.)"""
    plan = _plan(spark, "x3z2_post_split_ivf_topk")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_a19b_a20b_rank_inside_source_value_buckets(spark):
    """a19b/a20b's scale claim: no per-source (or global) sort window
    — every Window node partitions by (source, bucket), the cutpoint
    fold and the offsets stitch broadcast, and the count window is
    gone (n rides the broadcast offsets row)."""
    import re

    for name in ("a19b_trimmed_mean_scalable", "a20b_winsorized_mean_scalable"):
        plan = _plan(spark, name)
        assert _global_window_args(plan) == []
        assert "BroadcastExchange" in plan
        # every Window partition spec must include the bucket column
        lines = plan.splitlines()
        n_windows = 0
        for i, line in enumerate(lines):
            if re.match(r"\(\d+\) Window\b", line.strip()):
                n_windows += 1
                args = next(
                    (
                        lines[j].strip()
                        for j in range(i + 1, min(i + 6, len(lines)))
                        if lines[j].strip().startswith("Arguments:")
                    ),
                    "",
                )
                part = args.split("], [")[-2] if "], [" in args else ""
                assert "bucket#" in part, (name, args)
        assert n_windows == 1, (name, n_windows)


def test_x2j2b_post_split_prune_carries_both_parents_gates(spark):
    """x2j2b's scale claim is its parents' composed: no pair join
    anywhere (the quadratic prune lives inside the cell_after-keyed
    aggregate), no sort-merge or cartesian form, the guarded count
    pre-aggregation broadcasts, and the prune shuffle keys on the
    cluster id. (The printed uncached plan replays the persisted
    x3x2 assignment subtree repeatedly; its 1-row centroid-array
    nested loops are never corpus-sided.)"""
    plan = _plan(spark, "x2j2b_semdedup_prune_post_split")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "hashpartitioning(cid" in plan, "prune shuffle must key on cluster"
    assert "BroadcastHashJoin" in plan


def test_x3x4_merge_work_is_keyed_on_flagged_cells_only(spark):
    """x3x4's scale claim (the x3x2 dual): the only corpus-wide work
    is the one map-side assignment scan plus a K-row occupancy
    aggregate — the member slice reaches flagged cells by an
    EQUI-join against the <= K-row broadcast flagged set, and the
    reassignment is a map-side argmax over the broadcast survivor
    array (no join-back, cell_before rides the same projection). No
    window, no pairwise stage, no sort-merge join anywhere."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x3x4_merge_frames,
    )
    from ssn_college_software_architecture_assignments__spark import all_queries

    spark.catalog.clearCache()
    untouched, re_assigned, _cent = x3x4_merge_frames(spark, SF)
    try:
        rplan = explain_str(re_assigned)
        assert "BroadcastHashJoin" in rplan, "flagged set must broadcast-equi-join"
        assert "CartesianProduct" not in rplan
        assert "SortMergeJoin" not in rplan
    finally:
        spark.catalog.clearCache()
    plan = explain_str(all_queries()["x3x4_ivf_cell_merge"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    spark.catalog.clearCache()
    plan5 = explain_str(all_queries()["x3x5_post_merge_centroids"](spark, SF))
    assert "CartesianProduct" not in plan5
    assert "SortMergeJoin" not in plan5
    assert "Window" not in plan5
    spark.catalog.clearCache()


def test_x3z4_tombstone_filter_is_mapside_below_the_cell_join(spark):
    """x3z4's scale claim: exactly x3z's plan (map-side assignment,
    per-row probe fold, broadcast cell equi-join — no shuffled or
    all-pairs join form) plus one map-side integer-mod predicate on
    the member side; the filter must sit in the plan (pushed below
    the join), and retraction must add no new join or window."""
    plan = _plan(spark, "x3z4_tombstone_ivf_topk")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan, "cell scoring join must broadcast"
    assert "% 10) = 3" in plan.replace("#", "").replace("L", "") or "% 10" in plan, (
        "tombstone predicate must appear as a map-side filter"
    )


def test_x3z5_occupancy_is_one_cell_keyed_aggregate(spark):
    """x3z5's scale claim: the x3r2 assignment scan plus ONE
    map-combined hash aggregate keyed on the cell id — no window, no
    join beyond the assignment's 1-row centroid broadcast."""
    plan = _plan(spark, "x3z5_tombstone_occupancy")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(cell" in plan, "aggregate must key on the cell"


def test_x3z6_post_merge_scoring_is_broadcast_cell_equi_join(spark):
    """x3z6's scale claim (the x3z posture over the post-merge
    partition): probe selection is a per-row sort/slice fold over the
    ONE broadcast centroid-array row, and the scoring join is a
    BROADCAST cell equi-join of the queries-x-nprobe probe rows
    against the cell_after-keyed corpus — no join may degrade to a
    shuffled or all-pairs form. (The printed uncached plan replays
    the persisted x3x4 assignment subtree; its 1-row nested-loop
    broadcasts are never corpus-sided.)"""
    plan = _plan(spark, "x3z6_post_merge_ivf_topk")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_x3x6_plan_is_one_scan_plus_k_row_aggregate(spark):
    """x3x6's scale claim: one standing assignment scan, a K-row
    occupancy aggregate, a 1-row total broadcast — no window, no
    shuffled join, K rows out."""
    plan = _plan(spark, "x3x6_maintenance_plan")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(cell" in plan


def test_ivf_search_windows_partition_by_query_only(spark):
    """x3d / x3p: cell assignment and probe selection are per-row
    nearest_cells folds over the broadcast centroid array, so the only
    Window nodes left are the per-query top-k ranks, each partitioned
    by q_id alone. A vec_id-partitioned Window would be the corpus-wide
    assignment window, which shuffles the n x K crossJoin."""
    import re

    for name in ("x3d_similarity_ivf", "x3p_ivf_nprobe_sweep"):
        lines = _plan(spark, name).splitlines()
        parts = []
        for i, line in enumerate(lines):
            if re.match(r"\(\d+\) Window\b", line.strip()):
                args = next(
                    (
                        lines[j].strip()
                        for j in range(i + 1, min(i + 6, len(lines)))
                        if lines[j].strip().startswith("Arguments:")
                    ),
                    "",
                )
                parts.append(args.split("], [")[-2] if "], [" in args else args)
        assert parts, name
        for part in parts:
            assert re.fullmatch(r"q_id#\d+L?", part), (name, part)
