#!/usr/bin/env python
"""Whole-registry plan audit: build every registered op's physical plan
(NO execution — planning only) and grade it against the scale
anti-pattern checklist. Writes PLAN_AUDIT.md.

What a red flag means:
- cartesian / nested-loop: a join degenerated to all-pairs.
- python-eval: row-at-a-time Python (BatchEvalPython) in the plan —
  only acceptable where the op exists to exercise that surface.
- many exchanges: shuffle count is the scale cost driver; high counts
  deserve a justification in the op docstring.

Streaming ops are EXECUTED (availableNow) with the live physical plan
and state-store metrics captured via queries/streaming.AUDIT_SINK —
their plans only exist inside a running query, so planning-only can't
see them (VERDICT r7 task 1). Fixture-building ops execute their builds
as a side effect of planning, which is fine (content-cached).

Usage: python tools/audit_plans.py [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Ops whose PURPOSE is a Python-eval surface (udf parity checks, arrow
# UDF, grouped-map, datasource) — python-eval there is the point, not a
# leak. Everything else showing python-eval is a perf bug.
# Ops whose design is a conditionless join against a BROADCAST
# single-row / tiny relation (query vector, scalar total, 25-row dim):
# Spark plans that as BroadcastNestedLoopJoin, which is exactly right —
# the "nested loop" is over a handful of broadcast rows.
SCALAR_BROADCAST_OPS = {
    "agg-heavy-hitters",       # 1-row total broadcast
    "embed-matryoshka-recall", # 1-row query-vector broadcast
    "simsearch-binary-hamming",# 1-row query-words broadcast
    "simsearch-knn-join",      # 5-row query block broadcast
    "simsearch-range",         # 1-row query-vector broadcast
    "simsearch-topk",          # 1-row query-vector broadcast
    "text-unigram-logprob",    # 1-row total broadcast
    "abc-revenue-deciles",     # 1-row total-revenue broadcast
    "text-bpe-train",          # 1-row winning-merge-pair broadcast per round
    "multimodal-shard-balance",# 1-row mean-bytes broadcast
    "corpus-dataset-card",     # three 1-row aggregates cross-joined
    "funnel-windowed-strict",  # three 1-row stage counts cross-joined
    "analytics-seasonal-index",# 1-row all-month-average broadcast
    "analytics-survival-censored",  # 1-row observation-end broadcast
    "dq-benford-screen",       # 1-row total-count broadcast
    "text-inverted-index",     # 1-row df aggregates joined conditionless
    "tpch-q11",  # decorrelated scalar subquery: value > 1-row threshold
    "tpch-q22",  # decorrelated scalar subquery: acctbal > 1-row global avg
    "analytics-rfm",           # 1-row corpus-max-date broadcast
    "corpus-curation-report",  # 1-row corpus-count broadcast
    "corpus-token-budget",     # 1-row total-tokens broadcast
    "dq-freshness-lag",        # 1-row corpus-high-water-mark broadcast
    "dq-referential-integrity",# per-edge 1-row orphan/total cross joins
    "embed-power-iteration",   # 1-row norm + d-row vector broadcasts per iter
    "embed-whitening-diag",    # 1-row per-dim stats broadcast
    "privacy-t-closeness",     # |groups| x |segments| broadcast cross join
    "simsearch-recall-eval",   # 5-row query-block broadcast
    "text-df-prune",           # 1-row corpus-count broadcast
    # r6 sparse-grid densification (91bd3a4/e6107ee): distinct-rows x
    # distinct-cols cross join rebuilds the FULL contingency grid so
    # empty cells contribute their expected/weight terms — both sides
    # are category-level relations (a handful of rows), broadcast NLJ
    # is the intended constant-cost shape. Caught by the r7 audit rerun:
    # the r6 PLAN_AUDIT.md was generated before the densify commits.
    "stats-chi-square",
    "stats-cohen-kappa-weighted",
    "stats-cramers-v",
    "stats-mutual-information",
    # round-4 stats/eval/timeseries wave (55 ops): each broadcasts a
    # 1-row moment/extrema/fit summary (crossJoin(broadcast(agg))) or a
    # bounded side (fixed anchor set, day spine, k-row frequency or
    # centroid table) into a conditionless or non-equi join — the
    # deliberate scalar-summary shape each op's doc describes. BNLJ
    # over a broadcast single row is a constant-cost operator at any
    # corpus size; only these exact ops are excused, so an unintended
    # BNLJ regression in any other op still flags.
    "agg-kmv-sketch",
    "analytics-growth-accounting",
    "analytics-ltv-projection",
    "analytics-retention-decay-fit",
    "analytics-segment-migration",
    "analytics-stickiness",
    "corpus-chinchilla-budget",
    "dq-distribution-drift-psi",
    "dq-drift-battery",
    "dq-winsorize-impact",
    "embed-centroid-eval",
    "embed-effective-rank",
    "embed-norm-drift-ks",
    "featurestore-time-decay-score",
    "graph-modularity",
    "graph-rich-club",
    "graph-spectral-radius",
    "simsearch-two-stage-rerank",
    "stats-anderson-darling-binned",
    "stats-anova-oneway",
    "stats-benjamini-hochberg",
    "stats-breusch-pagan",
    "stats-calibration-curve",
    "stats-capture-recapture",
    "stats-cmh-pooled-or",
    "stats-cochran-q",
    "stats-cuped-adjustment",
    "stats-durbin-watson",
    "stats-eb-shrinkage",
    "stats-exponential-fit-ks",
    "stats-gini-split",
    "stats-hill-tail-index",
    "stats-holm-bonferroni",
    "stats-kendall-tau",
    "stats-ks-binned",
    "stats-levene-median",
    "stats-lorenz-asymmetry",
    "stats-mahalanobis-outliers",
    "stats-mcnemar",
    "stats-rank-biased-overlap",
    "stats-roc-auc-binned",
    "stats-runs-median",
    "stats-var-backtest",
    "stats-wasserstein-binned",
    "stats-xbar-control-chart",
    "stats-youden-threshold",
    "text-bigram-perplexity",
    "text-burstiness",
    "text-pmi-cooccurrence",
    "timeseries-approx-entropy",
    "timeseries-hurst-rs",
    "timeseries-periodogram",
    "timeseries-spectral-entropy",
    "embed-mmr-rerank",        # 1-row picked-candidate broadcasts per greedy step
    "sample-poisson-bootstrap",# 16-row replica-id broadcast fan-out
    "privacy-generalization-ladder",  # 4-row band-width broadcast fan-out
    "stats-grubbs-outlier",    # 1-row (n, mean, sd) summary broadcast
    "stats-dagostino-k2",      # 1-row mean broadcast (two-pass central moments)
    "timeseries-acf-pacf",     # 1-row mean broadcast over the daily summary
    "timeseries-sax-symbolic", # 1-row (mu, sd) broadcast over the daily summary
    "timeseries-cross-correlation",  # 1-row normalizer broadcast per lag branch
    "analytics-bass-diffusion",      # 1-row moment-summary broadcast
    "stats-cohens-d-battery",  # 5-row per-group summary inequality self-join
    "embed-jl-projection",     # 20-row anchor block inequality self-join
    "simsearch-batch-topk",    # 10-row query block broadcast
    "text-burrows-delta",      # 10-token z-score block inequality join
    "anomaly-poisson-deviance",  # 1-row baseline-rate broadcast
    "corpus-ccnet-ppl-buckets",  # 1-row vocab-total broadcast
    "graph-hits-scores",       # 1-row max-normalizer broadcasts
    "stats-ks-exact-daily",    # 1-row (n1, n2) totals broadcast
    "stats-mann-kendall",      # bounded day-summary pairwise join
    "stats-stratified-ate",    # 1-row naive-ATE summary broadcast
    "stats-welch-anova",       # 1-row weight-sum summary broadcast
    "timeseries-kpss-level",   # 1-row (mu, n) summary broadcast
    "embed-centroid-margin",   # 10-row label-centroid codebook broadcast
    "stats-cochran-armitage",  # 1-row totals summary broadcast
    "dedup-semdedup-bucket",   # 1-row adaptive-cell-bits broadcast
    "agg-frequency-moments",   # 1-row frequency-total broadcast
    "funnel-window-sensitivity",  # 4-row window-literal fan-out + 1-row base
    "stats-gpd-pot",           # 1-row threshold-quantile broadcast
    "timeseries-harmonic-fit", # 10-row frequency-literal fan-out
    "stats-jackknife-cv",      # 1-row moment-totals broadcast per resample
    "event-cooccurrence-lift", # 1-row unit-total + k-row margin broadcasts
    "stats-mood-median",       # 1-row grand-median broadcast
    "timeseries-despike-med3", # 1-row MAD-scale broadcast
    "join-not-in-null-semantics",  # three 1-row count aggregates cross-joined
    "timeseries-dfa",          # 1-row mean broadcast + 2-row box-size fan-out
    "sample-neyman-allocation",  # 1-row allocation-total broadcast
    "stats-ewma-control-chart",  # 1-row (mu, sd) baseline broadcast
    "text-js-divergence",  # 1-row side-totals broadcast (was a global window)
    # round-5 ml/eval wave: each broadcasts a 1-row scalar summary
    # (global prior, corpus stats, current beta vector, strength
    # normalizer, observation high-water mark) into a conditionless join
    "eval-bm25-topk",          # 1-row (n_docs, avgdl) corpus-stats broadcast
    "eval-bradley-terry",      # 1-row strength-normalizer broadcast
    "ml-logistic-irls",        # 1-row beta broadcast per Newton step
    "ml-target-encode-loo",    # 1-row global-prior broadcast
    "stats-kaplan-meier",      # 1-row observation-end broadcast
    "stats-permutation-test",  # 1-row observed-diff broadcast
    "corpus-dsir-importance",  # 1-row corpus-totals broadcast
    "dq-sequence-integrity",   # 1-row duplicate-count broadcast
    "embed-hard-negative-mining",  # 5-row anchor block inequality join
    "eval-fleiss-kappa",       # 1-row marginal/chance-term broadcasts
    "rec-coverage-novelty",    # 1-row catalog-totals broadcast + 20-row rec list
    "timeseries-ses-grid",     # 1-row series-mean + 1-row best-SSE broadcasts
    "timeseries-matrix-profile-discord",  # bounded day-window block join
    "ml-woe-iv",               # 1-row class-totals broadcast
    "stats-copula-tail-dependence",  # 1-row quantile-thresholds broadcast
    "text-self-bleu-lite",     # 1-row sample-count broadcast
    "stats-nelson-aalen",      # 1-row observation-end broadcast (KM twin)
    "ml-naive-bayes",          # 1-row train-count + 2-row class broadcasts
    "timeseries-intervention-its",  # 1-row (d0, t0) bounds broadcast
    "eval-brier-decomposition",  # 1-row global-moments broadcast
    "sample-class-balance",    # 1-row minority-count broadcast
    "stats-anova-two-way",     # 1-row grand-mean / SSE / df broadcasts
    "stats-ancova",            # 1-row pooled-slope/SSE broadcast
    "stats-g-test",            # 1-row G-stat + marginal-sum broadcasts
    "eval-auc-delong-ci",      # 1-row AUC broadcast into variance pass
    "stats-tukey-hsd",         # 5-row group-summary pair join (k(k-1)/2)
    "ml-learning-curve",       # 5-row fraction-list inequality broadcast
    "stats-bland-altman",      # 1-row bias/SD broadcast into outside-LoA pass
    "stats-icc",               # 1-row grand-total broadcast
    "timeseries-cochrane-orcutt",  # 1-row OLS/rho/refit scalar broadcasts
    "text-lm-interpolated",    # 1-row corpus-token-total broadcast
    "stats-chow-test",         # 1-row pooled-SSE broadcast
    "ml-cost-threshold",       # 3-row cost-grid broadcast
    "stats-bowker-symmetry",   # 1-row total + 9-row transpose-grid joins
    "analytics-competing-risks",  # 1-row observation-end broadcast
    "event-mcf-recurrent",     # 1-row cohort-size broadcast
    "stats-friedman-nemenyi",  # 5-row treatment-summary pair join
    "agg-theil-decomposition", # 1-row grand-mean broadcast
    "timeseries-seasonal-mann-kendall",  # within-season day-summary pair join
    "stats-logrank-test",      # 1-row cohort-size broadcast
    "ml-bootstrap-slope-se",   # 12-row replica-id + 1-row analytic broadcasts
    "corpus-temperature-sampling",  # 3-row temperature-grid broadcast
    "ml-calibration-slope",    # 1-row weighted-moment broadcast
    "timeseries-sen-slope-seasonal",  # within-season day-summary pair join
    "stats-jonckheere-terpstra",  # 4-row group-set broadcast cross densifies the bin grid; JT itself is a bin equi-join
    "eval-rank-stability-bootstrap",  # 12-row replica-id broadcast
}

# Ops whose SEMANTICS are all-pairs over a bounded relation (the op id
# says so): the cross join is the contract, not an accident.
INTENTIONAL_ALLPAIRS = {
    "join-cross",
    "geo-haversine-nearest",  # 25-nation dim, doc'd grid path at scale
    "embed-separation-histogram",  # pair stats over a bounded hash sample
    "join-interval-overlap",  # theta overlap vs broadcast 8-row campaign dim
}

# Fact-scan fan-out guard (round 6): an op whose executed plan contains
# many parquet scans and NO InMemoryTableScan is re-running its fact
# scan once per reference to a shared lazy summary — the blow-up that
# cost analytics-rfm 128 scans (3-deep chained rank helpers) and
# eval-bradley-terry 48 (pair summary fanned into directed/wins/p1/p2).
# The fix is persisting the first bounded summary; a cached plan shows
# InMemoryTableScan nodes and the text scans under InMemoryRelation are
# lineage, not executions. The threshold is deliberately generous: a
# handful of scans is a legitimate multi-rollup shape (two-way ANOVA
# reads its fact 5x for 4 marginals + SSE); 15+ with zero caching is
# the pathological class.
# Only scans of DATA-SCALED tables count: re-reading the 25-row nation
# dim 100x (the iterative graph ops) costs nothing at any scale,
# re-reading events/lineitem does.
SCAN_FANOUT_THRESHOLD = 15
FACT_TABLES = (
    "events", "orders", "lineitem", "documents", "embeddings",
    "customer", "part",
)
SCAN_FANOUT_OPS: set[str] = set()  # no excused ops today — keep it empty


def fact_scan_count(plan: str) -> int:
    """Number of scan nodes over data-scaled parquet tables."""
    import re as _re

    n = 0
    for m in _re.finditer(r"(?:Scan parquet|FileScan)[^\n]*", plan):
        line = m.group(0)
        if any(f"{t}.parquet" in line for t in FACT_TABLES):
            n += 1
    return n


def per_table_scan_counts(plan: str) -> dict[str, int]:
    """Scans per fact table — the guide-§2.5 repeated-subtree signature:
    one table scanned >= 3x in a single plan almost always means a
    multiply-consumed relation that was not persisted (or a fusable set
    of per-branch aggregates)."""
    import re as _re

    counts: dict[str, int] = {}
    for m in _re.finditer(r"(?:Scan parquet|FileScan)[^\n]*", plan):
        line = m.group(0)
        for t in FACT_TABLES:
            if f"{t}.parquet" in line:
                counts[t] = counts.get(t, 0) + 1
    return counts


TABLE_RESCAN_THRESHOLD = 3
# Ops allowed to scan one fact table >= TABLE_RESCAN_THRESHOLD times,
# each with the recorded justification (VERDICT r11 task 4). Two legal
# reasons: (a) the re-scan IS the op's contract (independent arms /
# probes whose fusion would change what is being compared), or (b) a
# persist was tried and MEASURED slower — in that case the op carries a
# NOTE(r11)/NOTE(r12) comment at the decision site with the numbers,
# and the entry here names it. The stale-pin check flags any entry
# whose plan no longer re-scans, so this list cannot rot silently.
MULTI_SCAN_JUSTIFIED: dict[str, str] = {}

# Ops allowed to keep empty-partition (single-task) Window nodes because
# the frame is BOUNDED — its cardinality is fixed by calendar, bin
# count, vocabulary of a low-cardinality column, or an explicit prune —
# so the serial window never sees data-volume-scaled input. Every entry
# pins the max allowed count of such nodes (as counted by
# plans.inspect.global_window_count over the executed plan, which may
# include AQE's Initial Plan section): if an op grows an EXTRA global
# window, it flags even though the op is listed. Ops with global
# windows over frames that grow with the data (per-customer, per-doc,
# per-user, raw events) are NOT excusable — they must use the
# range-sort rank in operators/ranking.py (see agg-gini-coefficient,
# analytics-rfm, window-session-concurrency for the pattern).
# global_window_count already auto-clears rank<=k top-k windows (their
# input is TakeOrderedAndProject/WindowGroupLimit-pruned by Catalyst).
_BOUNDED_WINDOW_GROUPS: list[tuple[str, dict[str, int]]] = [
    (
        "daily/weekly/monthly summary — frame bounded by calendar time, "
        "not data volume",
        {
            "analytics-adstock-regression": 1,
            "analytics-bass-diffusion": 2,
            "analytics-event-study": 1,
            "analytics-revenue-decomposition": 1,
            "dq-cardinality-drift": 1,
            "dq-volume-drift": 1,
            "stats-bic-trend-select": 2,
            "stats-breusch-pagan": 2,
            "stats-durbin-watson": 3,
            "stats-ewma-control-chart": 1,
            "stats-ks-exact-daily": 1,
            "stats-kruskal-wallis": 1,
            "stats-mann-whitney": 1,
            "stats-quantile-ci": 2,
            "stats-runs-median": 1,
            "stats-runs-test": 2,
            "stats-spearman-corr": 2,
            "stats-sprt-monitor": 1,
            "stats-var-backtest": 2,
            "stats-wilcoxon-signed-rank": 1,
            "timeseries-acf-pacf": 1,
            "timeseries-approx-entropy": 5,
            "timeseries-bollinger-bands": 1,
            "timeseries-cross-correlation": 6,
            "timeseries-despike-med3": 4,
            "timeseries-dfa": 2,
            "timeseries-drawdown-episodes": 1,
            "timeseries-forecast-backtest": 1,
            "timeseries-page-hinkley": 3,
            "timeseries-ses-grid": 6,
            "timeseries-matrix-profile-discord": 2,
            # distinct first-view->first-purchase durations: bounded by
            # the calendar span (days), not the user count
            "stats-kaplan-meier": 2,
            "stats-nelson-aalen": 2,
            # bounded distinct-score bins (values round to 2 decimals)
            "eval-auc-delong-ci": 4,
            # bounded lang x source contingency grid
            "stats-g-test": 1,
            # bounded 3x3 rating contingency grid
            "stats-cohen-kappa-weighted": 1,
            # bounded distinct-score bins (values round to 1 decimal)
            "ml-cost-threshold": 2,
            # calendar-bounded daily series (lag windows + marginals)
            "timeseries-cochrane-orcutt": 3,
            # calendar-bounded duration/exit-time summaries (KM twins)
            "analytics-competing-risks": 3,
            "event-mcf-recurrent": 2,
            "stats-logrank-test": 1,
            # calendar-bounded daily series lag window
            "timeseries-adf-test": 1,
            "timeseries-granger-1lag": 2,
            "timeseries-harmonic-fit": 2,
            "timeseries-hurst-rs": 2,
            "timeseries-interpolate-linear": 1,
            "timeseries-kpss-level": 1,
            "timeseries-ljung-box": 2,
            "timeseries-lttb-downsample": 8,
            "timeseries-max-drawdown": 2,
            "timeseries-periodogram": 2,
            "timeseries-pettitt": 4,
            "timeseries-rolling-corr": 1,
            "timeseries-sax-symbolic": 1,
            "timeseries-seasonality-strength": 2,
            "timeseries-slope-change": 2,
            "timeseries-spectral-entropy": 3,
            "timeseries-stl-anomaly": 3,
            "timeseries-stl-naive": 2,
            "timeseries-turning-points": 2,
            "timeseries-variance-ratio": 1,
            "timeseries-vwap": 1,
            "timeseries-wma-crossover": 1,
            # r8 day-bucketed sweep: opening-offset window over the
            # per-day delta summary (|days| rows)
            "window-session-concurrency": 1,
        },
    ),
    (
        "fixed-bin histogram / contingency / hour-of-week frame — "
        "cardinality set by the binning, not the data",
        {
            "dq-distribution-drift-psi": 1,
            "dq-drift-battery": 2,
            "embed-norm-drift-ks": 2,
            "event-hour-dow-heatmap": 1,
            "privacy-ldp-histogram": 1,
            "stats-anderson-darling-binned": 2,
            "stats-calibration-curve": 2,
            "stats-chi-square": 1,
            "stats-cramers-v": 1,
            "stats-exponential-fit-ks": 2,
            "stats-gini-split": 2,
            "stats-ks-binned": 2,
            "stats-mutual-information": 1,
            "stats-roc-auc-binned": 3,
            "ml-pr-auc-binned": 3,
            "ml-woe-iv": 1,  # total-IV over the 10-bin summary
            "stats-uniformity-hours": 1,
            "stats-wasserstein-binned": 2,
            "stats-youden-threshold": 2,
        },
    ),
    (
        "low-cardinality vocabulary frame (event types / languages / "
        "sources / market segments / category codes)",
        {
            "corpus-language-balance-sampler": 1,
            "corpus-token-budget": 1,
            "dq-rare-categories": 1,
            "event-entropy-rate": 1,
            "event-markov-stationary": 2,
            "event-next-action-baseline": 1,
            "privacy-dp-exponential": 1,
            "stats-benjamini-hochberg": 3,
            "stats-holm-bonferroni": 3,
        },
    ),
    (
        "fixed-k dimension/bucket/dim-table frame (embedding dims, "
        "range buckets, 25-nation dim)",
        {
            "analytics-hhi": 1,
            "derive-surrogate-key": 1,
            "embed-dim-variance-screen": 1,
            "embed-effective-rank": 1,
            "window-pct-of-total": 2,
            "window-sequence-gaps": 1,
        },
    ),
    (
        "explicitly pruned frame: price-bucket champion table + "
        "grid-pruned skyline survivors (frontier-sized)",
        {
            "skyline-pareto": 2,
        },
    ),
]
BOUNDED_WINDOW_OPS: dict[str, tuple[int, str]] = {
    op: (n, reason)
    for reason, group in _BOUNDED_WINDOW_GROUPS
    for op, n in group.items()
}

# ---------------------------------------------------------------------------
# Streaming audit (VERDICT r7 task 1). Streaming physical plans only
# exist inside a running query, so the batch path below can't see them.
# Every streaming op already RUNS its query to completion (availableNow)
# inside the op function; queries/streaming.AUDIT_SINK records each
# query's live plan (explainInternal after termination) + progress
# (state-store metrics), and the same CARTESIAN/BNLJ/PYTHON-EVAL grading
# runs on that text, plus streaming-specific checks:
#   WATERMARK-MISSING  op pinned watermark-bounded but the physical plan
#                      has no EventTimeWatermark node
#   STATE-UNPINNED     a stateful operator ran but STREAM_STATE_PINS has
#                      no entry saying how its state stays bounded
#   STATE-OVER-BOUND   final state-store rows exceeded the op's
#                      batch-computed upper bound (key cardinality /
#                      window count / buffered-row count)
#   NO-STREAM-CAPTURED the op ran no streaming query (checkpointed dirs
#                      are cleared first, so this means the hook broke)
#
# kind: how state stays bounded in CONTINUOUS operation at 100 TB —
#   watermark   state evicted once the watermark passes (plan must show
#               EventTimeWatermark)
#   keys        state rows = key cardinality of a bounded key space
#   data-keyed  state grows with distinct data ids — UNBOUNDED by design,
#               the op exists to demonstrate the hazard next to its
#               watermarked twin
#   stateless   no state operator at all
# bound: key into the batch-computed bounds dict (_stream_bounds) giving
# the max allowed total state rows per query run at the audited SF.
STREAM_STATE_PINS: dict[str, tuple[str, str | None, str]] = {
    "stream-file-source": ("keys", "n_event_types", "complete-mode count keyed by event_type"),
    "stream-tumbling-agg": ("watermark", "n_hour_type", "hour windows x event_type, watermark-evicted"),
    "stream-sliding-agg": ("watermark", "n_slide_windows", "4 overlapping hour windows per event, watermark-evicted"),
    "stream-append-sink": ("stateless", None, "pure ingest passthrough, exactly-once via file tracking"),
    "stream-watermark": ("watermark", "n_hours", "hour windows, append-mode emission on watermark pass"),
    "stream-stream-join": ("watermark", "n_view_purchase", "both sides buffered until watermark+range eviction"),
    "stream-foreach-batch-upsert": ("keys", "n_user_type", "complete-mode count keyed by (user_id, event_type)"),
    "stream-session-window": ("watermark", "n_events", "open sessions, closed on watermark pass (bound: one session per event)"),
    "stream-stateful-count": ("keys", "n_users", "GroupState per user_id"),
    "stream-dedup-unbounded-demo": ("data-keyed", "n_event_ids", "dropDuplicates state grows with distinct event ids — the documented unbounded demo; stream-dedup (the §2.10 contract id) is the watermarked scale path"),
    "stream-dedup": ("watermark", "n_event_ids", "dedup keys evicted past the watermark horizon (dropDuplicatesWithinWatermark, SURVEY §2.10)"),
    "stream-outer-join": ("watermark", "n_view_purchase", "outer join buffers both sides until watermark proves no match"),
    "stream-transform-with-state": ("keys", "n_users", "ValueState per user_id (RocksDB provider)"),
    "stream-static-join": ("keys", "n_tier_type", "complete-mode agg keyed by (tier, event_type); static dim side is stateless"),
    "stream-chained-windows": ("watermark", "n_chained_windows", "10-min windows + hour rollup, each tier watermark-evicted"),
    "stream-rocksdb-state": ("keys", "n_event_types", "complete-mode count keyed by event_type on RocksDB"),
    "stream-windowed-topk": ("watermark", "n_hour_type", "hour x event_type counts; top-k ranks batch-side"),
    "stream-state-reader": ("keys", "n_event_types", "checkpointed count state keyed by event_type, read back via statestore source"),
}

# Streaming ops whose Python nodes are the point (arbitrary stateful
# processing surfaces), mirroring PYTHON_SURFACE_OPS for batch.
STREAM_PYTHON_SURFACE = {
    "stream-stateful-count",       # applyInPandasWithState
    "stream-transform-with-state", # transformWithStateInPandas (or fallback)
}

# Checkpoint roots the streaming ops pin in /tmp: cleared before the
# audit so every query processes real batches (a reused checkpoint makes
# availableNow a zero-batch no-op with no plan to inspect).
STREAM_CHECKPOINT_GLOBS = (
    "/tmp/tss_stream_append_*",
    "/tmp/tss_stream_wm_*",
    "/tmp/tss_febatch_*",
)

_STREAM_STATEFUL_NODE_RE = (
    r"StateStoreSave|StreamingDeduplicate|StreamingSymmetricHashJoin"
    r"|SessionWindowStateStore|FlatMapGroupsWithState"
    r"|FlatMapGroupsInPandasWithState|TransformWithState"
)


def _stream_bounds(spark, sf_dir: str) -> dict[str, int]:
    """Batch-computed upper bounds on state-store rows per op (see
    STREAM_STATE_PINS). All cheap aggregates over the events table."""
    from pyspark.sql import functions as F

    from transit_scrape_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    ev.persist()
    hour = F.date_trunc("hour", "ts")
    b = {
        "n_events": ev.count(),
        "n_event_types": ev.select("event_type").distinct().count(),
        "n_event_ids": ev.select("event_id").distinct().count(),
        "n_users": ev.select("user_id").distinct().count(),
        "n_user_type": ev.select("user_id", "event_type").distinct().count(),
        "n_hours": ev.select(hour).distinct().count(),
        "n_hour_type": ev.select(hour, "event_type").distinct().count(),
        "n_view_purchase": ev.filter(
            F.col("event_type").isin("view", "purchase")
        ).count(),
        "n_slide_windows": 4
        * ev.select(F.window("ts", "15 minutes")).distinct().count(),
        "n_chained_windows": ev.select(F.window("ts", "10 minutes")).distinct().count()
        + ev.select(hour).distinct().count(),
    }
    b["n_tier_type"] = 3 * b["n_event_types"]
    ev.unpersist()
    return b


def _audit_streaming_op(op_id, spec, spark, sf_dir, bounds):
    """Run a streaming op with the AUDIT_SINK hook armed; grade the live
    plans + state metrics. Returns (status, n_ex, pushdown, broadcast,
    detail_row)."""
    from transit_scrape_spark.plans.inspect import (
        executed_plan,
        global_window_count,
    )
    from transit_scrape_spark.queries import streaming as streaming_mod

    streaming_mod.AUDIT_SINK = sink = []
    try:
        df = spec.fn(spark, sf_dir)
        batch_plan = executed_plan(df)
    finally:
        streaming_mod.AUDIT_SINK = None

    import re as _re

    from transit_scrape_spark.plans.inspect import live_exchange_count

    phys = [
        r["plan"].split("== Physical Plan ==")[-1] for r in sink
    ]
    all_plans = "\n".join(phys + [batch_plan])
    n_ex = live_exchange_count(all_plans)
    watermarked = any("EventTimeWatermark" in p for p in phys)
    stateful_nodes = sorted(
        {m.group(0) for p in phys for m in _re.finditer(_STREAM_STATEFUL_NODE_RE, p)}
    )
    # state rows: per query, last progress entry's total across its
    # state operators; max across the op's queries
    state_rows = 0
    op_names: set[str] = set()
    for r in sink:
        progs = r["progress"]
        if not progs:
            continue
        last = progs[-1]
        ops = last.get("stateOperators") or []
        state_rows = max(
            state_rows, sum(int(s.get("numRowsTotal", 0)) for s in ops)
        )
        op_names.update(s.get("operatorName", "?") for s in ops)
    stateful = bool(stateful_nodes or op_names)

    kind, bound_key, _reason = STREAM_STATE_PINS.get(op_id, (None, None, ""))
    flag = ""
    if not sink:
        flag += "NO-STREAM-CAPTURED "
    if "CartesianProduct" in all_plans and op_id not in INTENTIONAL_ALLPAIRS:
        flag += "CARTESIAN "
    if (
        "BroadcastNestedLoopJoin" in all_plans
        and op_id not in SCALAR_BROADCAST_OPS
        and op_id not in INTENTIONAL_ALLPAIRS
    ):
        flag += "BNLJ "
    py_nodes = _re.search(
        r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|TransformWithState",
        all_plans,
    )
    if py_nodes and op_id not in STREAM_PYTHON_SURFACE:
        flag += "PYTHON-EVAL "
    gwin = global_window_count(batch_plan)
    if gwin > BOUNDED_WINDOW_OPS.get(op_id, (0, ""))[0]:
        flag += f"GLOBAL-WINDOW({gwin}) "
    if kind == "watermark" and sink and not watermarked:
        flag += "WATERMARK-MISSING "
    if stateful and kind is None:
        flag += "STATE-UNPINNED "
    if bound_key is not None and state_rows > bounds[bound_key]:
        flag += f"STATE-OVER-BOUND({state_rows}>{bounds[bound_key]}) "
    if kind == "stateless" and stateful:
        flag += "STATE-UNPINNED "

    pushdown = (
        "y"
        if "PushedFilters: [" in all_plans and "PushedFilters: []" not in all_plans
        else "-"
    )
    broadcast = (
        "y"
        if "BroadcastHashJoin" in all_plans or "BroadcastExchange" in all_plans
        else "-"
    )
    detail = {
        "op": op_id,
        "queries": len(sink),
        "exchanges": n_ex,
        "stateful": ",".join(sorted(op_names) or stateful_nodes) or "-",
        "state_rows": state_rows,
        "bound": f"{bounds[bound_key]} ({bound_key})" if bound_key else "-",
        "watermark": "y" if watermarked else "-",
        "kind": kind or "?",
    }
    return ("ok" if not flag else flag.strip()), n_ex, pushdown, broadcast, detail


PYTHON_SURFACE_OPS = {
    "dedup-semdedup-bucket",  # per-cell applyInPandas gemm kernel (r11)
    "embed-hubness",  # Arrow-batched gemm anchor-distance kernel + partial top-k (r10)
    "embed-intrinsic-dim",  # same gemm kernel (operators/anndist.py, r10)
    "fn-arrow-udf",
    "fn-os-grid-ref",  # expression path + udf cross-check column
    "geo-reproject",  # the one pandas_udf (numpy TM + Helmert)
    "geo-reproject-corrected",  # same pandas_udf, grid-shift chained in front
    "grouped-map-zscore",
    "embed-normalize-arrow",
    "multimodal-decode",
    "multimodal-frame-sample",
    "scan-python-datasource",
    "sink-python-datasource",
    "text-udtf-bigrams",
    "text-udtf-table-arg",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from transit_scrape_spark.plans.inspect import (
        executed_plan,
        global_window_count,
        live_exchange_count,
    )
    from transit_scrape_spark.queries.registry import registry
    from transit_scrape_spark.session import get_spark

    spark = get_spark("tss-plan-audit")

    # clear pinned streaming checkpoints so every streaming query
    # actually processes batches (see STREAM_CHECKPOINT_GLOBS)
    import glob as _glob
    import shutil as _shutil

    for pat in STREAM_CHECKPOINT_GLOBS:
        for d in _glob.glob(pat):
            _shutil.rmtree(d, ignore_errors=True)
    stream_bounds = _stream_bounds(spark, args.sf_dir)

    rows = []
    stream_details = []
    observed_gw: dict[str, int] = {}
    observed_bnlj: dict[str, bool] = {}
    observed_rescan: dict[str, int] = {}
    for op_id, spec in sorted(registry().items()):
        if op_id.startswith("stream-"):
            try:
                status, n_ex, pushdown, broadcast, detail = _audit_streaming_op(
                    op_id, spec, spark, args.sf_dir, stream_bounds
                )
            except Exception as exc:  # pragma: no cover - audit robustness
                rows.append((op_id, "ERROR", str(exc)[:60], "-", "-"))
                continue
            rows.append((op_id, status, str(n_ex), pushdown, broadcast))
            stream_details.append(detail)
            print(
                f"# {op_id}: queries={detail['queries']} exchanges={n_ex} "
                f"state_rows={detail['state_rows']} {status if status != 'ok' else ''}",
                file=sys.stderr,
            )
            continue
        try:
            df = spec.fn(spark, args.sf_dir)
            p = executed_plan(df)
        except Exception as exc:  # pragma: no cover - audit robustness
            rows.append((op_id, "ERROR", str(exc)[:60], "-", "-"))
            continue
        n_ex = live_exchange_count(p)
        cart = "CartesianProduct" in p
        bnlj = "BroadcastNestedLoopJoin" in p
        pyeval = "BatchEvalPython" in p or "ArrowEvalPython" in p
        gwin = global_window_count(p)
        observed_gw[op_id] = gwin
        observed_bnlj[op_id] = bnlj
        flag = ""
        if cart and op_id not in INTENTIONAL_ALLPAIRS:
            flag += "CARTESIAN "
        if bnlj and op_id not in SCALAR_BROADCAST_OPS and op_id not in INTENTIONAL_ALLPAIRS:
            flag += "BNLJ "
        if pyeval and op_id not in PYTHON_SURFACE_OPS:
            flag += "PYTHON-EVAL "
        if gwin > BOUNDED_WINDOW_OPS.get(op_id, (0, ""))[0]:
            flag += f"GLOBAL-WINDOW({gwin}) "
        n_scans = fact_scan_count(p)
        if (
            n_scans >= SCAN_FANOUT_THRESHOLD
            and "InMemoryTableScan" not in p
            and op_id not in SCAN_FANOUT_OPS
        ):
            flag += f"SCAN-FANOUT({n_scans}) "
        per_table = per_table_scan_counts(p)
        worst_t, worst_n = ("", 0)
        for t, n in per_table.items():
            if n > worst_n:
                worst_t, worst_n = t, n
        observed_rescan[op_id] = worst_n
        if (
            worst_n >= TABLE_RESCAN_THRESHOLD
            and op_id not in MULTI_SCAN_JUSTIFIED
        ):
            flag += f"TABLE-RESCAN({worst_t}x{worst_n}) "
        rows.append(
            (
                op_id,
                "ok" if not flag else flag.strip(),
                str(n_ex),
                "y" if "PushedFilters: [" in p and "PushedFilters: []" not in p else "-",
                "y" if "BroadcastHashJoin" in p or "BroadcastExchange" in p else "-",
            )
        )
        print(f"# {op_id}: exchanges={n_ex} {flag}", file=sys.stderr)

    flagged = [r for r in rows if r[1] not in ("ok", "streaming") and r[1] != "ERROR"]
    errors = [r for r in rows if r[1] == "ERROR"]
    # stale-pin hygiene: an allowance looser than the measured plan means
    # the excuse list drifted — tighten or delete so the audit stays sharp
    loose_windows = sorted(
        (op, n, observed_gw.get(op, 0))
        for op, (n, _r) in BOUNDED_WINDOW_OPS.items()
        if op in observed_gw and observed_gw[op] < n
    )
    stale_bnlj = sorted(
        op for op in SCALAR_BROADCAST_OPS
        if op in observed_bnlj and not observed_bnlj[op]
    )
    stale_rescan = sorted(
        op for op in MULTI_SCAN_JUSTIFIED
        if op in observed_rescan
        and observed_rescan[op] < TABLE_RESCAN_THRESHOLD
    )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "")
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md"
    )
    with open(path, "w") as fh:
        fh.write(
            "# PLAN AUDIT — whole-registry physical-plan checklist\n\n"
            "Generated by `python tools/audit_plans.py` (batch ops: "
            "planning only, no execution; streaming ops: executed under "
            "availableNow with the live plan + state-store metrics "
            "captured via queries/streaming.AUDIT_SINK). Columns: "
            "shuffle-exchange count, filter pushdown reached a scan, any "
            "broadcast join present. Flags: CARTESIAN (all-pairs join), "
            "PYTHON-EVAL (row/batch Python outside the declared "
            "Python-surface ops), GLOBAL-WINDOW (empty-partition Window "
            "over a frame not pinned as bounded in BOUNDED_WINDOW_OPS — "
            "the single-task scale hazard; unbounded frames must use the "
            "range-sort rank in operators/ranking.py), TABLE-RESCAN "
            "(one fact table scanned >= 3x in a single plan — the "
            "repeated-subtree signature; justified ops carry a reason "
            "in MULTI_SCAN_JUSTIFIED backed by a code NOTE), "
            "WATERMARK-MISSING / "
            "STATE-UNPINNED / STATE-OVER-BOUND / NO-STREAM-CAPTURED "
            "(streaming state-boundedness checks against "
            "STREAM_STATE_PINS and batch-computed row bounds).\n\n"
            f"**{len(rows)} ops: "
            f"{len([r for r in rows if r[1] == 'ok'])} clean, "
            f"{len(flagged)} flagged, {len(errors)} errored "
            f"({len(stream_details)} streaming ops audited live).**\n\n"
        )
        if flagged:
            fh.write("## Flagged\n\n| op | flag | exchanges |\n|---|---|---|\n")
            for r in flagged:
                fh.write(f"| `{r[0]}` | {r[1]} | {r[2]} |\n")
            fh.write("\n")
        if loose_windows or stale_bnlj or stale_rescan:
            fh.write(
                "## Stale allowances (hygiene, not failures)\n\n"
                "Pins looser than the measured plan — tighten or remove:\n\n"
            )
            for op, pinned, got in loose_windows:
                fh.write(f"- `{op}`: pinned {pinned} global windows, measured {got}\n")
            for op in stale_bnlj:
                fh.write(f"- `{op}`: in SCALAR_BROADCAST_OPS but no BNLJ in plan\n")
            for op in stale_rescan:
                fh.write(
                    f"- `{op}`: in MULTI_SCAN_JUSTIFIED but no table is "
                    f"re-scanned >= {TABLE_RESCAN_THRESHOLD}x\n"
                )
            fh.write("\n")
        if stream_details:
            fh.write(
                "## Streaming ops (live-query audit)\n\n"
                "Per op: streaming queries run, shuffle exchanges across "
                "all live plans + the batch tail, stateful operators "
                "observed (from lastProgress), final state-store rows vs "
                "the batch-computed upper bound, EventTimeWatermark "
                "present, and the pinned boundedness kind (watermark = "
                "evicted past the horizon; keys = bounded key space; "
                "data-keyed = deliberately unbounded demo; stateless).\n\n"
                "| op | queries | exchanges | stateful operators | "
                "state rows | bound | wm | kind |\n"
                "|---|---|---|---|---|---|---|---|\n"
            )
            for d in stream_details:
                fh.write(
                    f"| `{d['op']}` | {d['queries']} | {d['exchanges']} | "
                    f"{d['stateful']} | {d['state_rows']} | {d['bound']} | "
                    f"{d['watermark']} | {d['kind']} |\n"
                )
            fh.write("\n")
        fh.write("## All ops\n\n| op | status | exchanges | pushdown | broadcast |\n|---|---|---|---|---|\n")
        for r in rows:
            fh.write(f"| `{r[0]}` | {r[1]} | {r[2]} | {r[3]} | {r[4]} |\n")
    print(f"wrote {path}: {len(rows)} ops, {len(flagged)} flagged, {len(errors)} errors")


if __name__ == "__main__":
    main()
