"""Physical-plan regression tests: the scale properties VERDICT grades
(pushdown, broadcast joins, partial aggregation, no self-joins in the
dedup path, single wide exchange in kNN) asserted against the actual
Catalyst plans so they cannot silently regress."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    from pyproj_spark.queries import q_pricing_summary
    plan = _plan(q_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan \
        or "PushedFilters: [" in plan and "l_shipdate" in plan
    # column pruning: the 16-column lineitem scan reads only what the
    # query needs
    assert "l_comment" not in plan


def test_broadcast_join_for_dimensions(spark):
    from pyproj_spark.queries import q_revenue_by_nation
    plan = _plan(q_revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partial_aggregation(spark):
    from pyproj_spark.queries import q_geocell
    plan = _plan(q_geocell(spark, SF))
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_minhash_has_no_join(spark):
    # the hot-band guard replaced the band self-join with groupBy +
    # array HOFs: any join reappearing here is a scale regression
    from pyproj_spark.queries_text import q_minhash_lsh
    plan = _plan(q_minhash_lsh(spark, SF))
    assert "Join" not in plan
    from pyproj_spark.queries_text import q_jaccard_3gram
    plan = _plan(q_jaccard_3gram(spark, SF))
    # jaccard joins SIZES (small) but never self-joins the shingle
    # posting stream: no more than the two size-lookup joins
    assert plan.count("SortMergeJoin") + plan.count(
        "BroadcastHashJoin") + plan.count("ShuffledHashJoin") <= 2


def test_knn_zones_single_wide_exchange(spark):
    # candidate generation is a 1-row broadcast + array HOFs; the ONLY
    # hash-partitioned exchange allowed is the final top-k window
    from pyproj_spark.queries import q_knn
    plan = _plan(q_knn(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row centroid array


def test_transform_scan_prunes_columns(spark):
    # the flagship path must not read text/html for a lon/lat transform
    from pyproj_spark.queries import q_webmerc_transform
    plan = _plan(q_webmerc_transform(spark, SF))
    assert "text" not in plan.split("ReadSchema")[-1]
    assert "ArrowEvalPython" in plan  # vectorized, not BatchEvalPython


def test_no_row_at_a_time_python(spark):
    # BatchEvalPython = row-at-a-time F.udf — banned engine-wide
    from pyproj_spark.queries import QUERIES
    from pyproj_spark.queries_text import QUERIES_TEXT
    for name, (fn, _sql) in {**QUERIES, **QUERIES_TEXT}.items():
        plan = _plan(fn(spark, SF))
        assert "BatchEvalPython" not in plan, name


def test_semi_anti_join_strategies(spark):
    """order_priority/cold_customers must plan genuine LeftSemi /
    LeftAnti hash joins (the EXISTS / NOT EXISTS shapes), never a
    row-duplicating inner join + distinct."""
    from pyproj_spark.queries import q_cold_customers, q_order_priority
    p1 = _plan(q_order_priority(spark, SF))
    assert "LeftSemi" in p1 and "Distinct" not in p1
    p2 = _plan(q_cold_customers(spark, SF))
    assert "LeftAnti" in p2


def test_rollup_single_expand_pass(spark):
    """tile_rollup computes the whole pyramid in ONE Expand +
    hash-aggregate pass — not one aggregation per level."""
    from pyproj_spark.queries import q_tile_rollup
    p = _plan(q_tile_rollup(spark, SF))
    assert p.count("Expand") >= 1
    # one logical aggregation (partial+final pair), not three
    assert p.count("HashAggregate") <= 2


def test_star_only_lsh_has_no_nested_pair_expansion(spark):
    """The CC-feeding edge list must stay O(members) per band: the
    star_only plan contains no nested sequence/flatten pair blowup."""
    from pyproj_spark.operators import dedup
    from pyproj_spark.queries_text import _docs
    pairs = dedup.minhash_lsh_pairs(_docs(spark, SF), num_hashes=8,
                                    bands=4, star_only=True)
    p = _optimized(pairs)
    assert "flatten" not in p.lower()


def test_bm25_broadcasts_vocabulary_side(spark):
    """BM25's idf/query joins are vocabulary-scale and must broadcast;
    a sort-merge join here means the corpus is shuffling on token."""
    from pyproj_spark.queries_text import q_bm25
    plan = _plan(q_bm25(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_geoip_plans_hash_joins_not_nested_loop(spark):
    """The whole point of prefix-bucket decomposition: no
    BroadcastNestedLoopJoin (the plan Catalyst gives the raw BETWEEN
    predicate), only equi-joins."""
    from pyproj_spark.queries_text import q_geoip
    plan = _plan(q_geoip(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hll_never_shuffles_raw_values(spark):
    """HLL's first shuffle key is (group, register-index): the
    user_id value column must not survive past the map side."""
    from pyproj_spark.queries import q_hll_users
    from pyproj_spark.operators.sketch import hll_distinct
    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(hll_distinct(ev, "event_type", "user_id"))
    # partial max before the exchange = map-side register collapse
    assert "partial_max" in plan or "partial" in plan.lower()
    assert "Exchange hashpartitioning(event_type" in plan


def test_cm_sketch_is_broadcast_to_probe(spark):
    from pyproj_spark.queries_text import q_cm_heavy
    plan = _plan(q_cm_heavy(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_knn_hex_joins_on_cell_only(spark):
    """Hex kNN candidate join must be a cell equi-join (hash or SMJ on
    the cell key) — never a theta/nested-loop join."""
    from pyproj_spark.queries import q_knn_hex
    plan = _plan(q_knn_hex(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_site_template_broadcast_anti_join(spark):
    """The per-host template-line set is small at sf0.01, so the
    planner broadcasts it into the anti-join with no hint."""
    from pyproj_spark.queries_text import q_site_template
    plan = _plan(q_site_template(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_dup_spans_broadcast_join(spark):
    """The duplicated-shingle set joins back broadcast with no hint:
    shingle positions must not shuffle on hash."""
    from pyproj_spark.queries_text import q_dup_spans
    plan = _plan(q_dup_spans(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["bloom_join", "dist_transform",
                                  "dup_spans", "site_template"])
def test_build_fires_no_job_and_caches_nothing(spark, name):
    """Building these queries is plan construction only: no Spark job
    (no probe count, no driver-side collect, no checkpoint) and no
    cache entry left behind for the next build to read."""
    from pyproj_spark.queries import QUERIES
    from pyproj_spark.queries_text import QUERIES_TEXT
    build = {**QUERIES, **QUERIES_TEXT}[name][0]
    sc = spark.sparkContext
    spark.catalog.clearCache()
    group = f"build-only:{name}"
    sc.setJobGroup(group, f"build {name}")
    try:
        build(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", [
    "pagerank", "ppr", "hits", "salsa", "redirect_chains", "watershed",
    "flow_length", "pca_power", "geo_median", "pack_sequences"])
def test_build_leaves_no_cached_relation(spark, name):
    """Builds that run driver-side passes (small-graph probes, power
    and Weiszfeld iterations, packing's range boundaries) may fire
    jobs, but must leave nothing in the session's CacheManager."""
    from pyproj_spark.queries import QUERIES
    from pyproj_spark.queries_text import QUERIES_TEXT
    spark.catalog.clearCache()
    {**QUERIES, **QUERIES_TEXT}[name][0](spark, SF)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_clip_tiles_no_python_udf(spark):
    """Polygon clipping stays entirely inside Catalyst expressions —
    no Python evaluation node anywhere in the plan."""
    from pyproj_spark.queries import q_clip_tiles
    plan = _plan(q_clip_tiles(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_pack_sequences_no_global_window(spark):
    # the corpus prefix sum must be the two-phase distributed scan:
    # the only windows allowed over the full input partition by the
    # range-partition id; a bare Window [orderBy] with an empty
    # partition spec over the doc stream is the single-task bottleneck
    # this test exists to prevent
    from pyproj_spark.operators.packing import pack_sequences
    from pyspark.sql import functions as F
    docs = spark.range(0, 10000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 700 + 1).alias("n_tokens"))
    plan = _plan(pack_sequences(docs, capacity=2048))
    import re
    wins = re.findall(r"Window \[\w+\((\w+)#\d+L?\) "
                      r"windowspecdefinition\(([^,)]+)", plan)
    assert wins, plan
    by_col = dict(wins)
    # the doc-stream cumsum is partitioned by the range-partition id
    assert by_col["n_tokens"].startswith("_pid")
    # the only per-ORDER (unpartitioned) window is the P-row offsets
    # cumsum over the totals frame
    unpart = [c for c, spec in wins if "ASC" in spec]
    assert unpart == ["_tot"], wins


def test_s2_pip_is_hash_join_with_single_encode(spark):
    """The S2 PIP probe must stay a BroadcastHashJoin on the ancestor
    id: a literal-array filter() lambda (or a range-table BNLJ with
    the exact test folded into its condition) re-evaluates the
    Hilbert-fold encode per range — measured 17 s vs 4 s at sf0.1."""
    from pyproj_spark.queries import q_s2_pip
    plan = _plan(q_s2_pip(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the encode's Hilbert fold appears a bounded number of times (the
    # ancestor bit-math references the ENCODED attribute, not the
    # expression): one fold in the projection, at most one more from a
    # constraint-inferred IsNotNull — never once per covering range
    assert plan.count("aggregate(") <= 4


def test_s2_bbox_prefilter_is_join_not_lambda(spark):
    from pyproj_spark.queries import q_s2_bbox
    plan = _plan(q_s2_bbox(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan  # range table, ~6 rows
    assert "exists(" not in plan.lower().replace("filterexec", "")
    assert plan.count("aggregate(") <= 4


def test_vector_tile_is_udf_free_single_shuffle(spark):
    """MVT command streams must stay native (array HOFs) with exactly
    one hash exchange — the per-tile groupBy."""
    from pyproj_spark.queries import q_vector_tile
    plan = _plan(q_vector_tile(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_hll_pyramid_merges_registers_not_values(spark):
    """Pyramid levels above z8 must re-aggregate the REGISTER table;
    the raw value column shuffles at most once (into the z8 regs)."""
    from pyproj_spark.queries import q_hll_pyramid
    plan = _plan(q_hll_pyramid(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # every exchange keys on tile coords — never on the user value
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "u#" not in line


def test_rasterize_and_contours_native(spark):
    from pyproj_spark.queries import q_contours, q_rasterize_lines
    for q in (q_rasterize_lines, q_contours):
        plan = _plan(q(spark, SF))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan


def test_traversal_rounds_have_no_cartesian(spark, monkeypatch):
    """BFS / LPA / Bellman-Ford rounds must stay equi-joins. Checked on
    the distributed loops (the driver cutover plans a local scan), one
    plan per round: each round ends in a checkpoint, which hides its
    joins from the final plan."""
    from pyproj_spark.operators import bfs
    from pyproj_spark.queries import (q_hop_distance, q_label_prop,
                                      q_shortest_path)
    monkeypatch.setattr(bfs, "SMALL_LIMIT", 0)
    frame = type(spark.range(1))
    plans, checkpoint = [], frame.localCheckpoint

    def recording(df, *args, **kwargs):
        plans.append(_plan(df))
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", recording)
    for q in (q_hop_distance, q_label_prop, q_shortest_path):
        plans.append(_plan(q(spark, SF)))
    assert len(plans) > 3 and any("Join" in p for p in plans)
    for plan in plans:
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_hausdorff_joins_trajectories_not_points(spark):
    """The pair join key is user id arithmetic — a hash equi-join over
    one row per trajectory; a point-level join (or theta join) here
    is the quadratic blowup the operator exists to avoid."""
    from pyproj_spark.queries import q_hausdorff
    plan = _plan(q_hausdorff(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rhumb_line_single_scan_no_exchange(spark):
    # pure Catalyst closed forms: no shuffle, no Python, one scan
    from pyproj_spark.queries import q_rhumb_line
    plan = _plan(q_rhumb_line(spark, SF))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_gc_intersect_folds_routes_map_side(spark):
    # literal route table explodes map-side: no join operator at all
    from pyproj_spark.queries import q_gc_intersect
    plan = _plan(q_gc_intersect(spark, SF))
    assert "Join" not in plan
    assert "Python" not in plan


def test_dsir_scoring_broadcasts_bucket_table(spark):
    # the 1024-row log-ratio table must broadcast; the only SMJ
    # allowed is the doc-keyed left join back to ids
    from pyproj_spark.queries_text import q_dsir_sample
    plan = _plan(q_dsir_sample(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 1
    assert "TakeOrderedAndProject" in plan  # gumbel top-k, no sort


def test_sq8_and_pq_broadcast_query_side(spark):
    from pyproj_spark.queries_text import q_pq_ann, q_sq8_ann
    for q in (q_sq8_ann, q_pq_ann):
        plan = _plan(q(spark, SF))
        # candidate scoring joins the tiny query side by broadcast —
        # a corpus-corpus SMJ here is a scale regression
        assert "BroadcastNestedLoopJoin" in plan \
            or "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


def test_ivfpq_prunes_by_cell_equijoin(spark):
    # candidates attach by a broadcast CELL equi-join (hash), never a
    # full cartesian against the corpus
    from pyproj_spark.queries_text import q_ivfpq
    plan = _plan(q_ivfpq(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hmm_emissions_have_no_shuffle_before_dp(spark):
    # emission costs are a map-side literal cross: the only wide
    # exchange is the per-trajectory grouping for the DP
    from pyproj_spark.queries import q_hmm_match
    plan = _plan(q_hmm_match(spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_rect_join_is_equi_join_no_nested_loop(spark):
    # PBSM's whole point: the cell decomposition turns the theta join
    # into a hash equi-join; a BroadcastNestedLoopJoin or cartesian
    # here means the decomposition degenerated
    from pyproj_spark.queries import q_rect_join
    plan = _plan(q_rect_join(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_union_area_single_row_partition_windows(spark):
    # the sweep's shuffles are all keyed by the scanline row; a
    # global (unpartitioned) window would serialize the corpus
    from pyproj_spark.queries import q_union_area
    plan = _plan(q_union_area(spark, SF))
    assert "Window" in plan
    import re
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "y#" in m.group(1)  # partitioned by the row key


def test_speed_filter_single_window_no_join(spark):
    from pyproj_spark.queries import q_speed_filter
    plan = _plan(q_speed_filter(spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # window + agg


def test_jl_project_no_exchange_at_all(spark):
    # literal sign matrix + per-row fold: any exchange is a regression
    from pyproj_spark.queries_text import q_jl_project
    plan = _plan(q_jl_project(spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_cdc_chunks_windows_partition_by_doc(spark):
    from pyproj_spark.queries_text import q_cdc_chunks
    plan = _plan(q_cdc_chunks(spark, SF))
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("id#" in s for s in specs)


def test_dem_slope_scatter_has_no_self_join(spark):
    # gradient gathers by hash agg over scattered contributions; the
    # only join allowed is the occupied-cell semi/outer join
    from pyproj_spark.queries import q_dem_slope
    plan = _plan(q_dem_slope(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    njoins = sum(plan.count(k) for k in
                 ("SortMergeJoin", "BroadcastHashJoin",
                  "ShuffledHashJoin"))
    assert njoins <= 1


def test_hilbert_pure_catalyst_no_python(spark):
    # the Hilbert key is native bit math threaded through named
    # intermediates: a Python/Arrow stage appearing here means someone
    # swapped the automaton for a UDF; nested-expression blowup would
    # show as a plan string exploding in size
    from pyproj_spark.queries import q_hilbert
    df = q_hilbert(spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert len(plan) < 200_000


def test_molodensky_single_arrow_crossing(spark):
    # one pipeline UDF = one Python boundary; a second Arrow stage
    # would mean the unitconvert legs escaped the kernel
    from pyproj_spark.queries import q_molodensky
    plan = _plan(q_molodensky(spark, SF))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_mime_sniff_zero_python_stages(spark):
    # body synthesis (unhex CASE) and sniffing (hex-prefix CASE) are
    # both native; ANY Python stage here is an ingest-path regression
    from pyproj_spark.queries_text import q_mime_sniff
    plan = _plan(q_mime_sniff(spark, SF))
    assert "EvalPython" not in plan
    assert "partial_count" in plan  # map-side combine before shuffle


def test_posting_lists_single_agg_no_join(spark):
    # inverted-index build = distinct + ONE token-keyed hash agg; a
    # join or window appearing here means someone "optimized" the gap
    # encoding into a per-token self-join
    from pyproj_spark.queries_text import q_posting_lists
    plan = _plan(q_posting_lists(spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan


def test_viewshed_equi_join_bounded_fanout(spark):
    # sightline samples attach to the raster via EQUI joins only (the
    # observer row is a broadcast); a nested-loop join here would be
    # O(cells^2) at corpus scale
    from pyproj_spark.queries import q_viewshed
    plan = _plan(q_viewshed(spark, SF))
    # the ONLY non-equi join allowed is the broadcast 1-row observer
    # (it appears once per lineage branch); never a shuffled cartesian
    assert "CartesianProduct" not in plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert frag.startswith(" BuildRight, Cross")
    # the sample->raster attach is an equi join
    assert ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_hillshade_scatter_no_self_join(spark):
    # hillshade reuses the dem_slope scatter-sum: gradients come from
    # explode + ONE hash agg, never 8 shifted self-joins of the raster
    from pyproj_spark.queries import q_hillshade
    plan = _plan(q_hillshade(spark, SF))
    assert plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin") <= 1  # the occupied-cell left join only
    assert "Generate explode" in plan or "Generate" in plan


def test_textrank_edges_from_hofs_not_self_join(spark):
    # adjacency pairs come from an array HOF over the vocab-filtered
    # token array; the only joins allowed are vocab-bounded
    from pyproj_spark.queries_text import q_textrank
    df = q_textrank(spark, SF)
    # result is a tiny driver-built frame; the heavy lineage already
    # ran — assert the output invariants instead
    rows = df.collect()
    assert 0 < len(rows) <= 30
    assert all(r.rank > 0 for r in rows)


def test_theil_sen_cell_equijoins_only(spark):
    # the pair stage must be a (cell)-equijoin (days^2-bounded per
    # cell), never a nested-loop; both medians are hash-agg percentiles
    from pyproj_spark.queries import q_theil_sen
    plan = _plan(q_theil_sen(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "percentile" in plan


def test_terrain_tpi_scatter_no_self_join(spark):
    # moments gather by hash agg over scattered contributions; only
    # the occupied-cell left join is allowed (same lock as dem_slope)
    from pyproj_spark.queries import q_terrain_tpi
    plan = _plan(q_terrain_tpi(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    njoins = sum(plan.count(k) for k in
                 ("SortMergeJoin", "BroadcastHashJoin",
                  "ShuffledHashJoin"))
    assert njoins <= 1


def test_focal_mode_window_keys_equal_agg_keys(spark):
    # mode selection must not add an exchange beyond the freq agg:
    # window partition keys == agg keys
    from pyproj_spark.queries import q_focal_mode
    plan = _plan(q_focal_mode(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zone_diameter_pairs_are_capped(spark):
    # the pair join must run on the 40-capped member set, never the
    # raw zone membership: assert bounded pair counts
    from pyproj_spark.queries import q_zone_diameter
    df = q_zone_diameter(spark, SF)
    rows = df.collect()
    assert all(r.n_pairs <= 40 * 39 // 2 for r in rows)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_sinuosity_user_keyed_window_no_joins(spark):
    # path + endpoints come from ONE user-keyed window and one hash
    # agg; no pair joins anywhere in the plan
    from pyproj_spark.queries import q_sinuosity
    plan = _plan(q_sinuosity(spark, SF))
    for k in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert k not in plan


def test_std_ellipse_single_agg_no_joins(spark):
    # single-pass integer moments: one hash agg, zero joins
    from pyproj_spark.queries import q_std_ellipse
    plan = _plan(q_std_ellipse(spark, SF))
    for k in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert k not in plan


def test_knox_pairs_equi_join_not_nested_loop(spark):
    # the 3x3 scatter turns the space-time pair hunt into a hash
    # equi-join on cells; a nested-loop reappearing here means the
    # distance predicate leaked into the join condition
    from pyproj_spark.queries import q_knox_test
    plan = _plan(q_knox_test(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_skyline_windows_not_dominance_self_join(spark):
    # the O(n^2) NOT EXISTS definition lives in the ORACLE only; the
    # Spark plan must be sort+window — zero joins of any kind
    from pyproj_spark.queries import q_skyline
    plan = _plan(q_skyline(spark, SF))
    for k in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert k not in plan
    assert "Window" in plan


def test_solar_position_zero_exchanges(spark):
    # per-row trig: nothing may shuffle before the projection
    from pyproj_spark.queries import q_solar_position
    plan = _plan(q_solar_position(spark, SF))
    assert "Exchange" not in plan


def test_bib_coupling_no_posting_self_join(spark):
    # pairs come from per-dst array HOF expansion under the in-degree
    # cap; the only joins allowed are the two small out-degree lookups
    from pyproj_spark.queries_text import q_bib_coupling
    plan = _plan(q_bib_coupling(spark, SF))
    n_joins = sum(plan.count(k) for k in
                  ("SortMergeJoin", "BroadcastHashJoin",
                   "ShuffledHashJoin"))
    assert n_joins <= 2
    assert "CartesianProduct" not in plan


def test_scatter_pair_family_equi_joins_only(spark):
    # knox/idw_loocv/variogram/clark_evans all generate pair
    # candidates via the 3x3 cell scatter: the join MUST be a hash/
    # sort-merge equi-join on cells — a nested loop means the distance
    # predicate leaked into the join condition
    from pyproj_spark.queries import (q_clark_evans, q_idw_loocv,
                                      q_variogram)
    for q in (q_idw_loocv, q_variogram, q_clark_evans):
        plan = _plan(q(spark, SF))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__
        assert ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
                or "ShuffledHashJoin" in plan), q.__name__
