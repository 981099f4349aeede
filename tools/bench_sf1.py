#!/usr/bin/env python
"""sf1 scale soak (VERDICT r3 item 3): run the most expensive ops plus
the LSH/dedup family at sf0.1 AND sf1 (10x data, tools/gen_sf1.py) and
record the scaling ratio per op in BENCH_SF1.json.

Pass criterion: no op takes > RATIO_MAX (default 15) x its sf0.1 time
for 10x the data — the cheapest local proxy for "would this plan
survive a 100x scale-up" (super-linear blowup at 10x means a broken
join/agg shape: candidate-pair explosion, driver materialization,
all-pairs scan).

Streaming ops are excluded: their cost is dominated by fixed
state-store/replay latency in availableNow mode, which makes ratios
meaningless (they read the same staged micro-batches at any sf).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transit_scrape_spark.queries.registry import registry
from transit_scrape_spark.session import get_spark, release_caches

SF01 = "/root/testdata/sf0.1"
SF1 = os.environ.get("SF1_DIR", "/root/repo/.sf1")
RATIO_MAX = float(os.environ.get("RATIO_MAX", "15"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

# 15 most expensive non-streaming ops from the r3 sf0.1 sweep
EXPENSIVE = [
    "simsearch-ivf-probe",
    "dedup-containment-score",
    "basket-affinity",
    "graph-components-iterative",
    "dedup-near-embedding-lsh",
    "graph-pagerank",
    "fn-os-grid-ref",
    "agg-approx-sketch",
    "agg-sketch-merge",
    "dedup-fuzzy-levenshtein",
    "dedup-cluster-keep",
    "tpch-q2",
    "embed-covariance-block",
    "tpch-q18",
    "agg-percentile",
]
# the LSH / dedup scale family
LSH_DEDUP = [
    "dedup-near-minhash",
    "simsearch-lsh-bucket",
    "simsearch-lsh-probe",
    "dedup-simhash",
    "dedup-ngram-jaccard",
]
# round-4 additions: the heaviest of the ~110 new ops (token-explode
# and anchors-x-corpus shapes whose 10x behavior is worth pinning)
R4_HEAVY = [
    "text-ngram-novelty",
    "text-burstiness",
    "text-heaps-law",
    "embed-intrinsic-dim",
    "embed-hubness",
    "analytics-stickiness",
    "corpus-dedup-impact",
    "text-rake-keywords",
    "stats-levene-median",
    "agg-kmv-sketch",
    # late round-4 wave: span explode, within-bucket pairwise, batched
    # query scoring — the shapes whose 10x behavior is worth pinning
    "dedup-span-coverage",
    "corpus-ccnet-ppl-buckets",
    "dedup-semdedup-bucket",
    "text-burrows-delta",
    "simsearch-batch-topk",
    "embed-centroid-margin",
]
# round-5 rework proof (VERDICT r4 items 1/8): the ops whose unbounded
# global windows were replaced by the range-sort rank in
# operators/ranking.py — their 10x ratio pins the fix at scale, not
# just in the plan audit
R5_REWORKED = [
    "agg-gini-coefficient",
    "analytics-rfm",
    "analytics-lift-chart",
    "analytics-pareto-point",
    "analytics-abc-xyz",
    "stats-stratified-ate",
    "sample-neyman-allocation",
    "abc-revenue-deciles",
    "window-session-concurrency",
    # text-ngram-novelty and text-heaps-law are already in R4_HEAVY
]
# round-5 new-op wave: the heaviest shapes (token explodes, B-fold
# fan-outs, basket self-joins, per-user metric windows)
R5_NEW = [
    "eval-bm25-topk",
    "eval-ranking-metrics",
    "stats-permutation-test",
    "corpus-dsir-importance",
    "corpus-curriculum-order",
    "rec-item-item-cosine",
    "text-self-bleu-lite",
    "stats-kaplan-meier",
    "ml-logistic-irls",
]
# round-5 continuation wave: token-explode LM scoring, bag-of-words
# pair rollups, map-side model scoring — the heaviest of the 32 ops
# round-6 persist fixes: ops whose executed plans had rfm-class
# fact-scan fan-outs (18-48 scans) before a bounded-summary persist
R6_PERSIST = [
    "eval-bradley-terry",
    "timeseries-ses-grid",
    "stats-anova-two-way",
    "ml-naive-bayes",
    "text-heaps-law",
    "embed-mmr-rerank",
]
R5_WAVE2 = [
    "text-lm-interpolated",
    "dedup-weighted-jaccard",
    "text-watermark-detect",
    "ml-naive-bayes",
    "ml-learning-curve",
    "eval-auc-delong-ci",
    "stats-bland-altman",
]
# round-7 (VERDICT r6 item 3): the 5 heaviest graph ops — the iterative
# ones (pagerank 82 exchanges, components 404) are the likeliest
# super-linear candidates at 10x edges, and the soak list had no graph
# entries at all
R7_GRAPH = [
    "graph-pagerank",
    "graph-components-iterative",
    "graph-spectral-radius",
    "graph-hits-scores",
    "graph-rich-club",
]
# r12: the heaviest consumers of the r11/r12 width-controlled persists
# (VERDICT r11 task 1) — pins that the persisted relations' cache
# build / memory cost does not invert the win at 10x data
R12_PERSIST = [
    "dedup-minhash-estimation-error",
    "eval-bm25-topk",
    "analytics-ltv-projection",
    "analytics-retention-decay-fit",
    "timeseries-lttb-downsample",
    "ml-logistic-irls",
    "rec-coverage-novelty",
    "rec-item-item-cosine",
    "event-cooccurrence-lift",
    "event-audience-overlap",
    "timeseries-cochrane-orcutt",
    "simsearch-ivf-probe",
]


def main() -> None:
    spark = get_spark("sf1-soak")
    reg = registry()
    spark.read.parquet(f"{SF01}/lineitem.parquet").count()  # warm-up
    spark.read.parquet(f"{SF1}/lineitem.parquet").count()

    results: dict[str, dict] = {}
    worst = 0.0
    # dict.fromkeys: order-preserving dedup — text-heaps-law / ml-naive-bayes
    # appear in two waves, and a second (warmer-session) run would silently
    # overwrite the first timing in the results dict
    for op in dict.fromkeys(EXPENSIVE + LSH_DEDUP + R4_HEAVY + R5_REWORKED
                            + R5_NEW + R5_WAVE2 + R6_PERSIST + R7_GRAPH
                            + R12_PERSIST):
        if op not in reg:
            print(f"# {op}: not registered, skipped", file=sys.stderr)
            continue
        row = {}
        for tag, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
            runs = []
            for _ in range(REPS):
                t0 = time.perf_counter()
                reg[op].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.perf_counter() - t0)
                release_caches(spark)
            row[tag] = round(statistics.median(runs), 3)
        row["ratio"] = round(row["sf1"] / row["sf0.1"], 2) if row["sf0.1"] else None
        row["pass"] = row["ratio"] is not None and row["ratio"] <= RATIO_MAX
        worst = max(worst, row["ratio"] or 0.0)
        results[op] = row
        print(f"# {op}: sf0.1={row['sf0.1']}s sf1={row['sf1']}s "
              f"ratio={row['ratio']}x pass={row['pass']}", file=sys.stderr)

    out = {
        "metric": "sf1_soak_ratio",
        "ratio_max_allowed": RATIO_MAX,
        "worst_ratio": worst,
        "all_pass": all(r["pass"] for r in results.values()),
        "n_ops": len(results),
        "copies": 10,
        "ops": results,
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_SF1.json",
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: out[k] for k in
                      ("worst_ratio", "all_pass", "n_ops")}))


if __name__ == "__main__":
    main()
