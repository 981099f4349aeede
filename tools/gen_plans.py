#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for headline operators,
so the plan shapes (pushdown, broadcasts, top-k, bucket pruning) are
reviewable without running Spark."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINERS = [
    "filter-eq",
    "tpch-q1",
    "tpch-q5",
    "join-fk-chain",
    "join-fact-fact",
    "join-bucketed",
    "topk-by-id",
    "window-topk-per-group",
    "simsearch-topk",
    "simsearch-lsh-probe",
    "dedup-near-minhash",
    "corpus-filter-pipeline",
    "join-skew-fact-fact-aqe",
    "join-lateral-correlated",
    "variant-get-typed",
    "sql-scalar-udf",
    "join-asof-forward",
    "geo-reproject",
    "tpch-q8",
    "tpch-q21",
    "geo-point-in-polygon",
    "scan-partition-prune",
    "join-skew-salted",
    "dedup-paragraph-exact",
    "join-bloom-prefilter",
    "embed-pq-codes",
    "simsearch-pq-adc",
    "simsearch-binary-hamming",
    "agg-count-min-sketch",
    "sink-parquet-partitioned",
    "rollup-timebucket",
    "text-tfidf-topterms",
    "cdc-snapshot-diff",
    "rolling-active-users",
    # round 3
    "geo-reproject-gridshift",
    "geo-reproject-corrected",
    "join-bloom-runtime-filter",
    "join-skew-aqe",
    "join-spatial-grid",
    "simsearch-ivf-probe",
    "timeseries-ewma",
    "text-bpe-train",
    "variant-shredded-roundtrip",
    "graph-triangle-count",
    # round 4
    "embed-power-iteration",
    "simsearch-recall-eval",
    "graph-k-core",
    "graph-jaccard-neighbors",
    "join-eager-aggregation",
    "sample-poisson-bootstrap",
    "timeseries-interpolate-linear",
    "dedup-sentence-boilerplate",
    "agg-multi-distinct-expand",
    "geo-grid-rollup-multires",
    # round 5
    "agg-gini-coefficient",      # range-sort global rank
    "abc-revenue-deciles",       # exact_ntile over the range-sort rank
    "window-session-concurrency",  # day-bucketed sweep-line prefix sums
    "eval-bm25-topk",
    "ml-logistic-irls",
    "rec-item-item-cosine",
    "sample-reservoir-weighted",
    "eval-ranking-metrics",
    "stats-kaplan-meier",
    # round 5 continuation
    "ml-naive-bayes",            # broadcast-model map-side scoring
    "ml-learning-curve",         # 5 nested train sizes, one fact pass
    "eval-auc-delong-ci",        # bounded score-bin windows
    "timeseries-croston",        # per-key closed-form SES
    "dedup-weighted-jaccard",    # pair_key re-key, zero joins
    "text-lm-interpolated",      # vocabulary-keyed LM state joins
]


def main() -> None:
    from transit_scrape_spark.plans.inspect import formatted_plan
    from transit_scrape_spark.queries.registry import registry
    from transit_scrape_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("gen-plans", shuffle_partitions=8)
    r = registry()

    lines = [
        "# PLANS — physical plans of headline operators",
        "",
        f"Generated by `python tools/gen_plans.py` at {sf_dir} (plan shape is",
        "sf-independent). What to look for: `PushedFilters`/`ReadSchema` on",
        "scans, `BroadcastHashJoin` on dim joins, `TakeOrderedAndProject` for",
        "top-k, `WindowGroupLimit` for grouped top-k, `SelectedBucketsCount`",
        "on the bucketed join, `ArrowEvalPython`/`MapInPandas` only in "
        "the declared Python-surface ops (geo-reproject, embed-hubness).",
        "",
    ]
    for op in HEADLINERS:
        df = r[op].fn(spark, sf_dir)
        plan = formatted_plan(df)
        # trim the verbose field lists but keep the operator tree + details
        lines += [f"## {op}", "", "```", plan.strip()[:6000], "```", ""]
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(HEADLINERS)} ops)")


if __name__ == "__main__":
    main()
