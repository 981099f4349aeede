"""ML data-prep ops: leakage-safe fold assignment, target/WOE
encoding, sampling, recommender and curriculum ops. Split in
round 6 (was 5,809 LoC); ranking/evaluation metrics live in
mlprep_eval.py, survival/econometric inference in
mlprep_inference.py. Every op registers via @query with an
inline DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_scrape_spark.operators.dedup import sql_string_hash, string_hash
from transit_scrape_spark.queries.registry import query
from transit_scrape_spark.session import cache_width
from transit_scrape_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# fold assignment / encoding / training
# ---------------------------------------------------------------------------

_KFOLD_SALT = ":kfold-salt-r5"


@query(
    "ml-kfold-assign",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   count(*) AS n_events,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS n_purch
            FROM events GROUP BY user_id
        ),
        folded AS (
            SELECT ({sql_string_hash(
                "CAST(user_id AS VARCHAR) || '" + _KFOLD_SALT + "'"
            )}) % 5 AS fold, n_events, n_purch
            FROM per_user
        )
        SELECT CAST(fold AS BIGINT) AS fold,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               round(CAST(sum(n_purch) AS DOUBLE) / sum(n_events), 6)
                   AS purchase_rate
        FROM folded GROUP BY fold
    """,
    doc="Leakage-safe GROUP k-fold assignment: every event of a user "
    "lands in the same fold because the fold is a deterministic "
    "md5-hash of the user id (not of the row) — the split discipline "
    "that keeps per-entity signal out of the validation folds "
    "(row-hash splits leak user history across folds and inflate "
    "CV scores). Engine-portable hash (same md5 mix as "
    "sample-hash-split) so any system reproduces the exact folds; "
    "per-fold size and label-rate columns make stratification drift "
    "visible. One per-user rollup + one 5-group aggregate; at 100 TB "
    "fold assignment is a stateless projection, no shuffle beyond "
    "the rollup.",
    tags=("ml",),
)
def ml_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purch"),
    )
    fold = (
        string_hash(
            F.concat(F.col("user_id").cast("string"), F.lit(_KFOLD_SALT))
        )
        % 5
    )
    return (
        per_user.groupBy(fold.cast("long").alias("fold"))
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(
                F.sum("n_purch").cast("double") / F.sum("n_events"), 6
            ).alias("purchase_rate"),
        )
    )


@query(
    "ml-target-encode-loo",
    oracle="""
        WITH tot AS (
            SELECT event_type, count(*) AS n, sum(value) AS s
            FROM events GROUP BY event_type
        ),
        prior AS (SELECT avg(value) AS mu FROM events),
        enc AS (
            SELECT e.event_type,
                   (t.s - e.value) / (t.n - 1) AS loo,
                   (t.s - e.value + 20 * p.mu) / (t.n - 1 + 20) AS smoothed
            FROM events e
            JOIN tot t ON t.event_type = e.event_type
            CROSS JOIN prior p
            WHERE t.n > 1
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(loo), 6) AS mean_loo,
               round(avg(smoothed), 6) AS mean_smoothed,
               round(stddev_samp(loo), 6) AS sd_loo
        FROM enc GROUP BY event_type
    """,
    doc="Leave-one-out target encoding of event_type against value with "
    "additive smoothing toward the global prior (m=20 pseudo-counts): "
    "enc_i = (sum_g - y_i) / (n_g - 1) excludes the row's own target, "
    "the standard guard against the self-leakage that makes naive "
    "mean-encoding overfit memorably on rare categories; the smoothed "
    "form interpolates to the prior exactly where LOO is noisiest. "
    "Plan: one per-category total (broadcast), one 1-row prior "
    "(broadcast), encoding as pure codegen arithmetic over the fact "
    "scan — no per-row state, no window; the per-category output here "
    "summarizes the encoding (mean/sd) so the result stays "
    "driver-sized.",
    tags=("ml",),
)
def ml_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # one scan builds the per-type totals; the global prior mu =
    # sum(s)/sum(count(value)) is DERIVED from them instead of a second
    # full scan (avg ignores nulls, so the null-aware count is carried
    # alongside; regrouping the sum only moves float last-bits, the
    # same drift class as partition-order variation)
    tot = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("s"),
        F.count("value").alias("nn"),
    ).coalesce(1).persist()  # bounded by the event-type vocabulary
    prior = tot.agg((F.sum("s") / F.sum("nn")).alias("mu"))
    e = (
        ev.join(F.broadcast(tot), "event_type")
        .crossJoin(F.broadcast(prior))
        .filter(F.col("n") > 1)
    )
    loo = (F.col("s") - F.col("value")) / (F.col("n") - 1)
    smoothed = (F.col("s") - F.col("value") + 20 * F.col("mu")) / (
        F.col("n") - 1 + 20
    )
    return e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg(loo), 6).alias("mean_loo"),
        F.round(F.avg(smoothed), 6).alias("mean_smoothed"),
        F.round(F.stddev_samp(loo), 6).alias("sd_loo"),
    )


# ---------------------------------------------------------------------------
# in-engine model fitting
# ---------------------------------------------------------------------------


@query(
    "ml-logistic-irls",
    oracle="""
        WITH pu AS (
            SELECT ln(1 + count(*)) AS x,
                   CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS DOUBLE) AS y
            FROM events GROUP BY user_id
        ),
        s1 AS (
            SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
                   sum(x * x) AS sxx,
                   sum(y - 0.5) AS g0, sum(x * (y - 0.5)) AS g1
            FROM pu
        ),
        b1 AS (
            SELECT (0.25 * sxx * g0 - 0.25 * sx * g1)
                       / (0.25 * n * 0.25 * sxx - 0.25 * sx * 0.25 * sx)
                       AS b0,
                   (0.25 * n * g1 - 0.25 * sx * g0)
                       / (0.25 * n * 0.25 * sxx - 0.25 * sx * 0.25 * sx)
                       AS b1
            FROM s1
        ),
        it2 AS (
            SELECT pu.x, pu.y, b1.b0, b1.b1,
                   1 / (1 + exp(-(b1.b0 + b1.b1 * pu.x))) AS p
            FROM pu CROSS JOIN b1
        ),
        s2 AS (
            SELECT max(b0) AS b0, max(b1) AS b1,
                   sum(p * (1 - p)) AS sw,
                   sum(p * (1 - p) * x) AS swx,
                   sum(p * (1 - p) * x * x) AS swxx,
                   sum(y - p) AS g0, sum(x * (y - p)) AS g1
            FROM it2
        ),
        b2 AS (
            SELECT b0 + (swxx * g0 - swx * g1) / (sw * swxx - swx * swx)
                       AS b0,
                   b1 + (sw * g1 - swx * g0) / (sw * swxx - swx * swx)
                       AS b1
            FROM s2
        ),
        fin AS (
            SELECT pu.y,
                   1 / (1 + exp(-(b2.b0 + b2.b1 * pu.x))) AS p,
                   b2.b0 AS b0, b2.b1 AS b1
            FROM pu CROSS JOIN b2
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               round(max(b0), 6) AS beta0,
               round(max(b1), 6) AS beta1,
               round(-avg(y * ln(p) + (1 - y) * ln(1 - p)), 6) AS log_loss
        FROM fin
    """,
    doc="In-engine logistic regression (two Newton/IRLS steps from "
    "beta=0) of purchase propensity on log-activity x = ln(1+events): "
    "each step is ONE aggregation pass collecting the 2x2 weighted "
    "normal equations (X'WX, X'(y-p)) plus a closed-form 2x2 solve, "
    "with the current beta broadcast back as a 1-row literal — the "
    "pattern that trains quality-classifier-sized GLMs at 100 TB "
    "without MLlib: d features cost one d^2-cell aggregate per step, "
    "fully map-side-combined, zero driver loops over data. Two steps "
    "from a cold start land within ~1e-3 of the converged fit at this "
    "separation; log-loss at the final beta is reported as the "
    "training-quality readout.",
    tags=("ml", "stats"),
)
def ml_logistic_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # persist the per-user design matrix: each IRLS step plus the final
    # log-loss pass re-consumes it (3 events scans + 3 per-user rollups
    # unpersisted). Cached at summary width (session.cache_width) so the
    # cache machinery does not drag 32 near-empty partitions through
    # build and readers (the r11 static-width trap).
    pu = (
        ev.groupBy("user_id")
        .agg(
            F.log(1 + F.count("*")).alias("x"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("double")
            .alias("y"),
        )
        .select("x", "y")
        .coalesce(cache_width(spark))
        .persist()
    )
    s1 = pu.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") - 0.5).alias("g0"),
        F.sum(F.col("x") * (F.col("y") - 0.5)).alias("g1"),
    )
    det1 = 0.25 * F.col("n") * 0.25 * F.col("sxx") - 0.25 * F.col("sx") * 0.25 * F.col("sx")
    b1 = s1.select(
        ((0.25 * F.col("sxx") * F.col("g0") - 0.25 * F.col("sx") * F.col("g1")) / det1).alias("b0"),
        ((0.25 * F.col("n") * F.col("g1") - 0.25 * F.col("sx") * F.col("g0")) / det1).alias("b1"),
    )
    it2 = pu.crossJoin(F.broadcast(b1)).withColumn(
        "p", 1 / (1 + F.exp(-(F.col("b0") + F.col("b1") * F.col("x"))))
    )
    w = F.col("p") * (1 - F.col("p"))
    s2 = it2.agg(
        F.max("b0").alias("b0"),
        F.max("b1").alias("b1"),
        F.sum(w).alias("sw"),
        F.sum(w * F.col("x")).alias("swx"),
        F.sum(w * F.col("x") * F.col("x")).alias("swxx"),
        F.sum(F.col("y") - F.col("p")).alias("g0"),
        F.sum(F.col("x") * (F.col("y") - F.col("p"))).alias("g1"),
    )
    det2 = F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
    b2 = s2.select(
        (F.col("b0") + (F.col("swxx") * F.col("g0") - F.col("swx") * F.col("g1")) / det2).alias("b0"),
        (F.col("b1") + (F.col("sw") * F.col("g1") - F.col("swx") * F.col("g0")) / det2).alias("b1"),
    )
    fin = pu.crossJoin(F.broadcast(b2)).withColumn(
        "p", 1 / (1 + F.exp(-(F.col("b0") + F.col("b1") * F.col("x"))))
    )
    return fin.agg(
        F.count("*").cast("long").alias("n_users"),
        F.round(F.max("b0"), 6).alias("beta0"),
        F.round(F.max("b1"), 6).alias("beta1"),
        F.round(
            -F.avg(
                F.col("y") * F.log(F.col("p"))
                + (1 - F.col("y")) * F.log(1 - F.col("p"))
            ),
            6,
        ).alias("log_loss"),
    )


_RES_SALT = ":reservoir-salt-r5"
_RES_P = 2147483647


@query(
    "sample-reservoir-weighted",
    oracle=f"""
        WITH keyed AS (
            SELECT event_id, event_type, value,
                   ln((({sql_string_hash(
                       "CAST(event_id AS VARCHAR) || '" + _RES_SALT + "'"
                   )}) + 0.5) / {_RES_P}.0) / (value + 1.0) AS k
            FROM events
        )
        SELECT event_id, event_type,
               round(value, 4) AS weight_minus_1,
               round(k, 6) AS res_key
        FROM keyed
        ORDER BY k DESC, event_id
        LIMIT 32
    """,
    doc="One-pass weighted reservoir sample (Efraimidis-Spirtsos A-Res, "
    "log form): each row draws a deterministic uniform u from the "
    "md5 hash of (event_id, salt) and keeps key = ln(u)/w with "
    "w = value+1; the 32 LARGEST keys are a weighted-without-"
    "replacement sample where P(selected) is proportional to w. "
    "Top-k-by-key is associative — per-partition top-32s merge to "
    "the global top-32 (TakeOrderedAndProject, no global sort) — so "
    "the same plan is the distributed one-pass reservoir at 100 TB, "
    "and the deterministic hash makes the 'random' draw reproducible "
    "across engines, retries, and cluster sizes (cf. sample-hash-"
    "split; rand()-based reservoirs are none of these).",
    tags=("sample",),
)
def sample_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = (
        string_hash(
            F.concat(F.col("event_id").cast("string"), F.lit(_RES_SALT))
        )
        + 0.5
    ) / float(_RES_P)
    k = F.log(u) / (F.col("value") + 1.0)
    keyed = ev.select("event_id", "event_type", "value", k.alias("k"))
    return (
        keyed.orderBy(F.col("k").desc(), "event_id")
        .limit(32)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("weight_minus_1"),
            F.round("k", 6).alias("res_key"),
        )
    )


# ---------------------------------------------------------------------------
# recsys
# ---------------------------------------------------------------------------


@query(
    "rec-item-item-cosine",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem WHERE l_partkey % 7 = 0
        ),
        freq AS (
            SELECT item, CAST(count(*) AS DOUBLE) AS n FROM items GROUP BY item
        ),
        co AS (
            SELECT a.item AS ia, b.item AS ib, CAST(count(*) AS DOUBLE) AS c
            FROM items a JOIN items b
              ON a.ok = b.ok AND a.item < b.item
            GROUP BY a.item, b.item
        )
        SELECT CAST(ia AS BIGINT) AS item_a,
               CAST(ib AS BIGINT) AS item_b,
               CAST(c AS BIGINT) AS n_cobaskets,
               round(c / (sqrt(fa.n) * sqrt(fb.n)), 6) AS cosine
        FROM co JOIN freq fa ON fa.item = ia JOIN freq fb ON fb.item = ib
        WHERE c >= 2
        ORDER BY cosine DESC, item_a, item_b
        LIMIT 20
    """,
    doc="Item-item collaborative-filtering similarity (the bipartite "
    "order-item graph projected onto items): co-basket counts "
    "normalized by sqrt(item frequency) — binary cosine, the "
    "Amazon-style 'customers also bought' kernel — with a min-support "
    "floor and a top-20 cut. Differs from basket-affinity (raw "
    "co-counts) exactly where it matters: normalization stops "
    "popular items from dominating every neighbor list. The "
    "within-basket self-join is co-located on the order key and its "
    "fan-out is bounded by basket size, the property that keeps "
    "item-item CF tractable at 100 TB while user-user CF is not "
    "(basket size is bounded; user history is not).",
    tags=("rec",),
)
def rec_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 7 == 0
    )
    # persist the distinct basket-item relation CO-PARTITIONED on the
    # basket key (same shape as rec-coverage-novelty, which rides this
    # op's plan): one hash(ok) exchange, per-key dedup with no second
    # exchange, and the co-basket self-join reads both sides from the
    # cache with zero join exchanges. r11's plain distinct().persist()
    # at static 32-partition cache width measured +86%/+18% and was
    # reverted; the width-controlled co-partitioned form is different.
    items = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
        )
        .repartition(cache_width(spark), "ok")
        .dropDuplicates(["ok", "item"])
        .persist()
    )
    freq = items.groupBy("item").agg(F.count("*").cast("double").alias("n"))
    a = items.select("ok", F.col("item").alias("ia"))
    b = items.select(F.col("ok").alias("ok2"), F.col("item").alias("ib"))
    co = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("ia") < F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.count("*").cast("double").alias("c"))
        .filter(F.col("c") >= 2)
    )
    fa = freq.select(F.col("item").alias("ia"), F.col("n").alias("na"))
    fb = freq.select(F.col("item").alias("ib"), F.col("n").alias("nb"))
    return (
        co.join(F.broadcast(fa), "ia")
        .join(F.broadcast(fb), "ib")
        .select(
            F.col("ia").cast("long").alias("item_a"),
            F.col("ib").cast("long").alias("item_b"),
            F.col("c").cast("long").alias("n_cobaskets"),
            F.round(
                F.col("c") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "item_a", "item_b")
        .limit(20)
    )


@query(
    "ml-pr-auc-binned",
    oracle="""
        WITH pu AS (
            SELECT avg(value) AS score,
                   CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) >= 14
                        THEN 1 ELSE 0 END AS y
            FROM events GROUP BY user_id
        ),
        binned AS (
            SELECT least(CAST(floor(score / 5) AS BIGINT), 19) AS bin,
                   CAST(sum(y) AS DOUBLE) AS pos,
                   CAST(sum(1 - y) AS DOUBLE) AS neg
            FROM pu GROUP BY 1
        ),
        cum AS (
            SELECT bin,
                   sum(pos) OVER w AS cpos,
                   sum(neg) OVER w AS cneg,
                   sum(pos) OVER () AS tpos
            FROM binned
            WINDOW w AS (ORDER BY bin DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        pts AS (
            SELECT bin,
                   cpos / (cpos + cneg) AS precision_,
                   cpos / tpos AS recall_,
                   cpos / tpos
                   - coalesce(lag(cpos / tpos) OVER (ORDER BY bin DESC), 0.0)
                       AS d_recall
            FROM cum
        )
        SELECT CAST(count(*) AS BIGINT) AS n_bins,
               round(sum(precision_ * d_recall), 6) AS pr_auc,
               round(max(CASE WHEN recall_ >= 0.5 THEN precision_ END), 6)
                   AS best_precision_at_recall50
        FROM pts
    """,
    doc="Precision-recall AUC (binned step interpolation) for the "
    "heavy-purchaser propensity score (per-user mean value): score bins "
    "sweep the threshold from high to low; each bin contributes "
    "precision x recall-increment. PR-AUC is the metric that stays "
    "honest under the class imbalance every conversion/quality-"
    "filter task has (ROC-AUC — stats-roc-auc-binned on the same "
    "score — saturates when negatives dominate because FPR's "
    "denominator is huge). Also reports precision at recall >= 0.5, "
    "the operating point a reviewer actually picks. Windows run over "
    "the 20-bin summary only; the fact pass is one per-user rollup "
    "+ one binned aggregate.",
    tags=("ml", "eval"),
)
def ml_pr_auc_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.avg("value").alias("score"),
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    binned = pu.groupBy(
        F.least(F.floor(F.col("score") / 5).cast("long"), F.lit(19)).alias(
            "bin"
        )
    ).agg(
        F.sum("y").cast("double").alias("pos"),
        F.sum(1 - F.col("y")).cast("double").alias("neg"),
    )
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = binned.select(
        "bin",
        F.sum("pos").over(w).alias("cpos"),
        F.sum("neg").over(w).alias("cneg"),
        F.sum("pos").over(w_all).alias("tpos"),
    )
    recall = F.col("cpos") / F.col("tpos")
    pts = cum.select(
        "bin",
        (F.col("cpos") / (F.col("cpos") + F.col("cneg"))).alias("precision_"),
        recall.alias("recall_"),
        (
            recall
            - F.coalesce(
                F.lag(recall).over(Window.orderBy(F.col("bin").desc())),
                F.lit(0.0),
            )
        ).alias("d_recall"),
    )
    return pts.agg(
        F.count("*").cast("long").alias("n_bins"),
        F.round(F.sum(F.col("precision_") * F.col("d_recall")), 6).alias(
            "pr_auc"
        ),
        F.round(
            F.max(
                F.when(F.col("recall_") >= 0.5, F.col("precision_"))
            ),
            6,
        ).alias("best_precision_at_recall50"),
    )


@query(
    "rec-coverage-novelty",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem WHERE l_partkey % 7 = 0
        ),
        freq AS (
            SELECT item, CAST(count(*) AS DOUBLE) AS n FROM items GROUP BY item
        ),
        tot AS (
            SELECT sum(n) AS z, CAST(count(*) AS DOUBLE) AS n_items FROM freq
        ),
        co AS (
            SELECT a.item AS ia, b.item AS ib, CAST(count(*) AS DOUBLE) AS c
            FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
            GROUP BY a.item, b.item
        ),
        recs AS (
            SELECT ia, ib FROM (
                SELECT co.ia, co.ib,
                       co.c / (sqrt(fa.n) * sqrt(fb.n)) AS cosine
                FROM co JOIN freq fa ON fa.item = co.ia
                        JOIN freq fb ON fb.item = co.ib
                WHERE co.c >= 2
                ORDER BY cosine DESC, co.ia, co.ib
                LIMIT 20
            )
        ),
        rec_items AS (
            SELECT ia AS item FROM recs UNION ALL SELECT ib FROM recs
        )
        SELECT CAST(count(DISTINCT r.item) AS BIGINT) AS n_rec_items,
               round(count(DISTINCT r.item) / max(t.n_items), 6)
                   AS catalog_coverage,
               round(avg(-log2(f.n / t.z)), 6) AS mean_novelty_bits
        FROM rec_items r
        JOIN freq f ON f.item = r.item
        CROSS JOIN tot t
    """,
    doc="Recommendation-quality diagnostics over rec-item-item-cosine's "
    "top-20 neighbor list: catalog coverage (what fraction of the "
    "item universe any recommendation touches — low coverage means "
    "the recommender only resurfaces bestsellers) and mean novelty "
    "in bits, -log2(popularity share) of recommended items (the "
    "information-theoretic surprise; pure-popularity recommenders "
    "score near log2(1/share of head items)). Accuracy metrics "
    "alone (eval-ranking-metrics) reward popularity bias; this pair "
    "is the standard counterweight. Rides the identical co-basket "
    "plan as the recommender op, so the marginal cost is two "
    "broadcast lookups over a 20-row list.",
    tags=("rec", "eval"),
)
def rec_coverage_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 7 == 0
    )
    # persist the distinct basket-item relation CO-PARTITIONED on the
    # basket key: repartition(w, ok) then per-key dedup (hash(ok)
    # co-locates equal (ok, item) pairs, so dropDuplicates adds no
    # second exchange) means the co-basket self-join below reads both
    # sides from one cache already partitioned on its join key — zero
    # join exchanges. r11 tried a plain distinct().persist() (cache at
    # the static 32-partition width, join still re-shuffling both
    # sides) and measured it LOSING (+70% ABBA); the width-controlled
    # co-partitioned form is the shape that wins.
    items = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
        )
        .repartition(cache_width(spark), "ok")
        .dropDuplicates(["ok", "item"])
        .persist()
    )
    freq = items.groupBy("item").agg(F.count("*").cast("double").alias("n"))
    tot = freq.agg(
        F.sum("n").alias("z"), F.count("*").cast("double").alias("n_items")
    )
    a = items.select("ok", F.col("item").alias("ia"))
    b = items.select(F.col("ok").alias("ok2"), F.col("item").alias("ib"))
    co = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("ia") < F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.count("*").cast("double").alias("c"))
        .filter(F.col("c") >= 2)
    )
    fa = freq.select(F.col("item").alias("ia"), F.col("n").alias("na"))
    fb = freq.select(F.col("item").alias("ib"), F.col("n").alias("nb"))
    recs = (
        co.join(F.broadcast(fa), "ia")
        .join(F.broadcast(fb), "ib")
        .select(
            "ia",
            "ib",
            (F.col("c") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb")))).alias(
                "cosine"
            ),
        )
        .orderBy(F.col("cosine").desc(), "ia", "ib")
        .limit(20)
    )
    rec_items = recs.select(F.col("ia").alias("item")).unionByName(
        recs.select(F.col("ib").alias("item"))
    )
    return (
        rec_items.join(F.broadcast(freq), "item")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.count_distinct("item").cast("long").alias("n_rec_items"),
            F.round(
                F.count_distinct("item") / F.max("n_items"), 6
            ).alias("catalog_coverage"),
            F.round(
                F.avg(-F.log2(F.col("n") / F.col("z"))), 6
            ).alias("mean_novelty_bits"),
        )
    )


# ---------------------------------------------------------------------------
# curation ordering / causal segments / feature screening
# ---------------------------------------------------------------------------


@query(
    "corpus-curriculum-order",
    oracle="""
        WITH scored AS (
            SELECT doc_id, lang, n_chars,
                   round(CAST(n_chars AS DOUBLE)
                         * (1 + len(string_split(text, ' '))), 4 ) AS difficulty
            FROM documents
            WHERE n_chars IS NOT NULL AND text IS NOT NULL
        ),
        ranked AS (
            SELECT lang, difficulty,
                   ntile(3) OVER (ORDER BY difficulty, doc_id) AS phase
            FROM scored
        )
        SELECT CAST(phase AS BIGINT) AS phase,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(min(difficulty), 4) AS min_difficulty,
               round(max(difficulty), 4) AS max_difficulty,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM ranked GROUP BY phase
    """,
    doc="Curriculum-learning phase assignment: documents scored by a "
    "difficulty proxy (chars x token count) and cut into exact "
    "thirds in difficulty order — easy phase first, hard last, the "
    "data-ordering curriculum shown to stabilize early LLM training. "
    "The cut must be EXACT and deterministic (a fuzzy boundary "
    "reshuffles phases between runs and breaks resumable training), "
    "so the ntile runs as the range-sort rank from "
    "operators/ranking.py — the document frame grows with the "
    "corpus, and this op is the curriculum-shaped demonstration "
    "that exact global ordering needs no single-partition sort. "
    "Per-phase language counts expose curriculum-induced domain "
    "skew (hard phases are usually long-doc-language heavy).",
    tags=("corpus", "ml"),
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.ranking import (
        exact_ntile,
        with_global_order,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("text").isNotNull()
    )
    scored = d.select(
        "doc_id",
        "lang",
        F.round(
            F.col("n_chars").cast("double")
            * (1 + F.size(F.split("text", " "))),
            4,
        ).alias("difficulty"),
    )
    g = with_global_order(
        scored, "difficulty", tiebreakers=("doc_id",), rn="__rn",
        total_count="__n",
    )
    ranked = g.select(
        "lang",
        "difficulty",
        exact_ntile(F.col("__rn"), F.col("__n"), 3).alias("phase"),
    )
    return ranked.groupBy(F.col("phase").cast("long").alias("phase")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.min("difficulty"), 4).alias("min_difficulty"),
        F.round(F.max("difficulty"), 4).alias("max_difficulty"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
    )


@query(
    "ml-uplift-by-segment",
    oracle="""
        WITH pu AS (
            SELECT user_id,
                   count(*) AS n_events,
                   max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                       AS treated,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
            FROM events GROUP BY user_id
        ),
        seg AS (
            SELECT CASE WHEN n_events < 50 THEN 'low'
                        WHEN n_events < 80 THEN 'mid' ELSE 'high' END
                       AS segment,
                   treated, converted
            FROM pu
        ),
        cell AS (
            SELECT segment,
                   CAST(sum(treated) AS BIGINT) AS n_treated,
                   CAST(sum(1 - treated) AS BIGINT) AS n_control,
                   avg(CASE WHEN treated = 1
                            THEN CAST(converted AS DOUBLE) END) AS p_t,
                   avg(CASE WHEN treated = 0
                            THEN CAST(converted AS DOUBLE) END) AS p_c
            FROM seg GROUP BY segment
        )
        SELECT segment, n_treated, n_control,
               round(p_t, 6) AS conv_treated,
               round(p_c, 6) AS conv_control,
               round(p_t - p_c, 6) AS uplift
        FROM cell
    """,
    doc="Two-model uplift readout by activity segment: conversion rate "
    "of treated (signed-up) minus control users, per engagement band "
    "— the heterogeneous-treatment-effect table that tells a "
    "targeting team WHERE the intervention works (aggregate ATE — "
    "stats-stratified-ate on the same contrast — can be positive "
    "while a segment is hurt; Simpson's territory). Fixed band edges "
    "keep segments stable across runs, the precondition for "
    "tracking uplift over time. One per-user rollup + one 3-cell "
    "aggregate; the full two-model form replaces the band cut with "
    "ml-logistic-irls scores per arm — identical plan shape.",
    tags=("ml", "stats"),
)
def ml_uplift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        ).alias("treated"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    seg = pu.select(
        F.when(F.col("n_events") < 50, "low")
        .when(F.col("n_events") < 80, "mid")
        .otherwise("high")
        .alias("segment"),
        "treated",
        "converted",
    )
    p_t = F.avg(
        F.when(F.col("treated") == 1, F.col("converted").cast("double"))
    )
    p_c = F.avg(
        F.when(F.col("treated") == 0, F.col("converted").cast("double"))
    )
    return seg.groupBy("segment").agg(
        F.sum("treated").cast("long").alias("n_treated"),
        F.sum(1 - F.col("treated")).cast("long").alias("n_control"),
        F.round(p_t, 6).alias("conv_treated"),
        F.round(p_c, 6).alias("conv_control"),
        F.round(p_t - p_c, 6).alias("uplift"),
    )


@query(
    "ml-woe-iv",
    oracle="""
        WITH pu AS (
            SELECT user_id, avg(value) AS score,
                   CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) >= 14
                        THEN 1 ELSE 0 END AS y
            FROM events GROUP BY user_id
        ),
        binned AS (
            SELECT least(CAST(floor(score / 10) AS BIGINT), 9) AS bin,
                   CAST(sum(y) AS DOUBLE) AS pos,
                   CAST(sum(1 - y) AS DOUBLE) AS neg
            FROM pu GROUP BY 1
        ),
        tot AS (SELECT sum(pos) AS tp, sum(neg) AS tn FROM binned),
        woe AS (
            SELECT bin,
                   CAST(pos AS BIGINT) AS n_pos,
                   CAST(neg AS BIGINT) AS n_neg,
                   ln(((pos + 0.5) / tp) / ((neg + 0.5) / tn)) AS woe,
                   ((pos + 0.5) / tp - (neg + 0.5) / tn)
                       * ln(((pos + 0.5) / tp) / ((neg + 0.5) / tn)) AS iv_part
            FROM binned CROSS JOIN tot
        )
        SELECT CAST(bin AS BIGINT) AS bin, n_pos, n_neg,
               round(woe, 6) AS woe,
               round(sum(iv_part) OVER (), 6) AS total_iv
        FROM woe
    """,
    doc="Weight-of-evidence / information-value feature screen for the "
    "per-user mean-value score against the heavy-purchaser label (>= 14 purchase events — a balanced class split; every user has SOME purchase in this corpus): per bin, "
    "WoE = ln(%events / %non-events) with add-half smoothing (the "
    "empty-bin guard credit scorecards standardize on), and the "
    "feature's IV = sum((%pos - %neg) * WoE) — the pre-modeling "
    "triage that ranks candidate features before any training run "
    "(IV < 0.02 useless, > 0.5 suspiciously leaky — THE smell test "
    "for target leakage in generated features). Fixed bin edges, "
    "one rollup + one 10-bin aggregate; the total-IV window runs "
    "over 10 rows.",
    tags=("ml",),
)
def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.avg("value").alias("score"),
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    binned = pu.groupBy(
        F.least(F.floor(F.col("score") / 10).cast("long"), F.lit(9)).alias(
            "bin"
        )
    ).agg(
        F.sum("y").cast("double").alias("pos"),
        F.sum(1 - F.col("y")).cast("double").alias("neg"),
    )
    tot = binned.agg(F.sum("pos").alias("tp"), F.sum("neg").alias("tn"))
    pp = (F.col("pos") + 0.5) / F.col("tp")
    pn = (F.col("neg") + 0.5) / F.col("tn")
    woe = binned.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("pos").cast("long").alias("n_pos"),
        F.col("neg").cast("long").alias("n_neg"),
        F.log(pp / pn).alias("woe"),
        ((pp - pn) * F.log(pp / pn)).alias("iv_part"),
    )
    w_all = Window.partitionBy()
    return woe.select(
        F.col("bin").cast("long").alias("bin"),
        "n_pos",
        "n_neg",
        F.round("woe", 6).alias("woe"),
        F.round(F.sum("iv_part").over(w_all), 6).alias("total_iv"),
    )


@query(
    "ml-vif-collinearity",
    oracle="""
        WITH pu AS (
            SELECT ln(1 + count(*)) AS x1,
                   avg(value) AS x2,
                   ln(1 + sum(CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END)) AS x3
            FROM events GROUP BY user_id
        ),
        c AS (
            SELECT corr(x1, x2) AS r12, corr(x1, x3) AS r13,
                   corr(x2, x3) AS r23, CAST(count(*) AS BIGINT) AS n
            FROM pu
        ),
        r2 AS (
            SELECT n,
                   (r12 * r12 + r13 * r13 - 2 * r12 * r13 * r23)
                       / (1 - r23 * r23) AS r2_1,
                   (r12 * r12 + r23 * r23 - 2 * r12 * r23 * r13)
                       / (1 - r13 * r13) AS r2_2,
                   (r13 * r13 + r23 * r23 - 2 * r13 * r23 * r12)
                       / (1 - r12 * r12) AS r2_3
            FROM c
        )
        SELECT 'x1_log_events' AS feature, n AS n_users,
               round(1 / (1 - r2_1), 6) AS vif FROM r2
        UNION ALL
        SELECT 'x2_mean_value', n, round(1 / (1 - r2_2), 6) FROM r2
        UNION ALL
        SELECT 'x3_log_purchases', n, round(1 / (1 - r2_3), 6) FROM r2
    """,
    doc="Variance-inflation-factor collinearity screen for a 3-feature "
    "design (log activity, mean value, log purchases): VIF_i = "
    "1/(1 - R^2_i) where R^2_i regresses feature i on the other two "
    "— in closed form from the pairwise correlations, so the whole "
    "screen is ONE moment aggregation over the per-user rollup plus "
    "scalar algebra (no model fitting, no matrix library). VIF > 5 "
    "means the feature's coefficient is unstable and ml-logistic-"
    "irls-style fits on it will not replicate — run this BEFORE "
    "training, the same way ml-woe-iv screens predictive power. "
    "At 100 TB: d features cost one d^2-cell correlation aggregate.",
    tags=("ml", "stats"),
)
def ml_vif_collinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.log(1 + F.count("*")).alias("x1"),
        F.avg("value").alias("x2"),
        F.log(
            1
            + F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
        ).alias("x3"),
    )
    # persist the 1-row correlation summary: each per-feature union
    # branch below re-planned the events scan + per-user rollup (3
    # fact scans for one 4-cell aggregate)
    c = pu.agg(
        F.corr("x1", "x2").alias("r12"),
        F.corr("x1", "x3").alias("r13"),
        F.corr("x2", "x3").alias("r23"),
        F.count("*").cast("long").alias("n"),
    ).coalesce(1).persist()
    r12, r13, r23 = F.col("r12"), F.col("r13"), F.col("r23")
    r2_1 = (r12 * r12 + r13 * r13 - 2 * r12 * r13 * r23) / (1 - r23 * r23)
    r2_2 = (r12 * r12 + r23 * r23 - 2 * r12 * r23 * r13) / (1 - r13 * r13)
    r2_3 = (r13 * r13 + r23 * r23 - 2 * r13 * r23 * r12) / (1 - r12 * r12)
    rows = []
    for name, r2x in [
        ("x1_log_events", r2_1),
        ("x2_mean_value", r2_2),
        ("x3_log_purchases", r2_3),
    ]:
        rows.append(
            c.select(
                F.lit(name).alias("feature"),
                F.col("n").alias("n_users"),
                F.round(1 / (1 - r2x), 6).alias("vif"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@query(
    "ml-ols-inference",
    oracle="""
        WITH pu AS (
            SELECT user_id,
                   ln(1 + CAST(sum(CASE WHEN event_type <> 'purchase'
                                        THEN 1 ELSE 0 END) AS DOUBLE)) AS x1,
                   avg(CASE WHEN event_type <> 'purchase' THEN value END)
                       AS x2,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS y
            FROM events GROUP BY user_id
            HAVING sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) > 0
        ),
        m AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   avg(x1) AS mx1, avg(x2) AS mx2, avg(y) AS my,
                   var_samp(x1) AS s11, var_samp(x2) AS s22,
                   covar_samp(x1, x2) AS s12,
                   covar_samp(x1, y) AS sy1, covar_samp(x2, y) AS sy2,
                   var_samp(y) AS syy
            FROM pu
        ),
        fit AS (
            SELECT n, mx1, mx2, my, s11, s22, s12, sy1, sy2, syy,
                   s11 * s22 - s12 * s12 AS det,
                   (sy1 * s22 - sy2 * s12) / (s11 * s22 - s12 * s12) AS b1,
                   (sy2 * s11 - sy1 * s12) / (s11 * s22 - s12 * s12) AS b2
            FROM m
        ),
        fitted AS (
            SELECT *,
                   my - b1 * mx1 - b2 * mx2 AS b0,
                   (n - 1) * (syy - b1 * sy1 - b2 * sy2) / (n - 3) AS sigma2,
                   (b1 * sy1 + b2 * sy2) / syy AS r2
            FROM fit
        )
        SELECT 'intercept' AS term, CAST(n AS BIGINT) AS n_obs,
               round(b0, 6) AS estimate,
               round(sqrt(sigma2 * (1 / n
                   + (mx1 * mx1 * s22 - 2 * mx1 * mx2 * s12 + mx2 * mx2 * s11)
                     / ((n - 1) * det))), 6) AS std_err,
               round(b0 / sqrt(sigma2 * (1 / n
                   + (mx1 * mx1 * s22 - 2 * mx1 * mx2 * s12 + mx2 * mx2 * s11)
                     / ((n - 1) * det))), 4) AS t_stat,
               round(r2, 6) AS r2
        FROM fitted
        UNION ALL
        SELECT 'x1_log_nonpurchase', CAST(n AS BIGINT), round(b1, 6),
               round(sqrt(sigma2 * s22 / ((n - 1) * det)), 6),
               round(b1 / sqrt(sigma2 * s22 / ((n - 1) * det)), 4),
               round(r2, 6)
        FROM fitted
        UNION ALL
        SELECT 'x2_mean_value', CAST(n AS BIGINT), round(b2, 6),
               round(sqrt(sigma2 * s11 / ((n - 1) * det)), 6),
               round(b2 / sqrt(sigma2 * s11 / ((n - 1) * det)), 4),
               round(r2, 6)
        FROM fitted
    """,
    doc="Two-regressor OLS with FULL inference — coefficient standard "
    "errors, t-statistics, and R^2 — in closed form from one moments "
    "aggregate: the 2x2 centered normal equations invert by cofactors "
    "(det = S11*S22 - S12^2), sigma^2 = SSE/(n-3) comes from the "
    "same covariances (SSE = (n-1)(Syy - b1*Sy1 - b2*Sy2)), and "
    "Var(b) = sigma^2 (X'X)^-1 needs nothing beyond them. Regresses "
    "per-user purchase count on log non-purchase activity and mean "
    "event value. Complements ml-vif-collinearity (same rollup, "
    "stability screen) and agg-regression-battery (single-regressor "
    "regr_* built-ins): this is the multi-feature fit WITH standard "
    "errors that neither provides. At 100 TB: one hash-agg to users, "
    "one 10-cell moment reduce, scalar algebra — no matrix library, "
    "no iterations, no collect.",
    tags=("ml", "stats"),
)
def ml_ols_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    np_cnt = F.sum(
        F.when(F.col("event_type") != "purchase", 1).otherwise(0)
    )
    pu = (
        ev.groupBy("user_id")
        .agg(
            np_cnt.alias("npc"),
            F.avg(
                F.when(F.col("event_type") != "purchase", F.col("value"))
            ).alias("x2"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("double")
            .alias("y"),
        )
        .filter(F.col("npc") > 0)
        .select(
            F.log(1 + F.col("npc").cast("double")).alias("x1"), "x2", "y"
        )
    )
    m = pu.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("x1").alias("mx1"),
        F.avg("x2").alias("mx2"),
        F.avg("y").alias("my"),
        F.var_samp("x1").alias("s11"),
        F.var_samp("x2").alias("s22"),
        F.covar_samp("x1", "x2").alias("s12"),
        F.covar_samp("x1", "y").alias("sy1"),
        F.covar_samp("x2", "y").alias("sy2"),
        F.var_samp("y").alias("syy"),
    ).coalesce(1).persist()
    # ^ persist the 1-row moments summary: each per-term union branch
    # below re-planned the events scan + per-user rollup (3 fact scans
    # for one 10-cell aggregate)
    n, mx1, mx2, my = F.col("n"), F.col("mx1"), F.col("mx2"), F.col("my")
    s11, s22, s12 = F.col("s11"), F.col("s22"), F.col("s12")
    sy1, sy2, syy = F.col("sy1"), F.col("sy2"), F.col("syy")
    det = s11 * s22 - s12 * s12
    b1 = (sy1 * s22 - sy2 * s12) / det
    b2 = (sy2 * s11 - sy1 * s12) / det
    b0 = my - b1 * mx1 - b2 * mx2
    sigma2 = (n - 1) * (syy - b1 * sy1 - b2 * sy2) / (n - 3)
    r2 = (b1 * sy1 + b2 * sy2) / syy
    se0 = F.sqrt(
        sigma2
        * (
            1 / n
            + (mx1 * mx1 * s22 - 2 * mx1 * mx2 * s12 + mx2 * mx2 * s11)
            / ((n - 1) * det)
        )
    )
    se1 = F.sqrt(sigma2 * s22 / ((n - 1) * det))
    se2 = F.sqrt(sigma2 * s11 / ((n - 1) * det))
    rows = []
    for term, est, se in [
        ("intercept", b0, se0),
        ("x1_log_nonpurchase", b1, se1),
        ("x2_mean_value", b2, se2),
    ]:
        rows.append(
            m.select(
                F.lit(term).alias("term"),
                n.cast("long").alias("n_obs"),
                F.round(est, 6).alias("estimate"),
                F.round(se, 6).alias("std_err"),
                F.round(est / se, 4).alias("t_stat"),
                F.round(r2, 6).alias("r2"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


_NB_SALT = ":nb-salt-r5"


@query(
    "ml-naive-bayes",
    oracle=f"""
        WITH ev_np AS (
            SELECT * FROM events WHERE event_type <> 'purchase'
        ),
        uval AS (
            SELECT user_id, avg(value) AS mv FROM ev_np GROUP BY user_id
        ),
        ub AS (
            SELECT user_id,
                   CAST(floor(extract(hour FROM ts) / 6) AS INT) AS hb,
                   count(*) AS cnt
            FROM ev_np GROUP BY 1, 2
        ),
        uhour AS (
            SELECT user_id,
                   split_part(max(lpad(CAST(cnt AS VARCHAR), 10, '0')
                                  || ':' || CAST(hb AS VARCHAR)), ':', 2)
                       AS f_hour
            FROM ub GROUP BY user_id
        ),
        lab AS (
            SELECT user_id,
                   CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) >= 13
                        THEN 1 ELSE 0 END AS label
            FROM events GROUP BY user_id
        ),
        base AS (
            SELECT v.user_id,
                   CASE WHEN v.mv < 48 THEN 'lo'
                        WHEN v.mv < 52 THEN 'mid' ELSE 'hi' END AS f_val,
                   h.f_hour, l.label,
                   ({sql_string_hash("CAST(v.user_id AS VARCHAR) || '" + _NB_SALT + "'")}) % 5
                       AS slot
            FROM uval v
            JOIN uhour h USING (user_id)
            JOIN lab l USING (user_id)
        ),
        tr AS (SELECT * FROM base WHERE slot < 4),
        te AS (SELECT * FROM base WHERE slot >= 4),
        ntr AS (SELECT CAST(count(*) AS DOUBLE) AS n_train FROM tr),
        pri AS (
            SELECT label AS c, CAST(count(*) AS DOUBLE) AS n_c
            FROM tr GROUP BY label
        ),
        cv AS (
            SELECT label AS c, f_val, CAST(count(*) AS DOUBLE) AS cnt
            FROM tr GROUP BY 1, 2
        ),
        ch AS (
            SELECT label AS c, f_hour, CAST(count(*) AS DOUBLE) AS cnt
            FROM tr GROUP BY 1, 2
        ),
        cls AS (SELECT 0 AS c UNION ALL SELECT 1),
        scored AS (
            SELECT t.user_id, t.label, cls.c,
                   ln((COALESCE(p.n_c, 0) + 1) / (n.n_train + 2))
                   + ln((COALESCE(v.cnt, 0) + 1) / (COALESCE(p.n_c, 0) + 3))
                   + ln((COALESCE(h.cnt, 0) + 1) / (COALESCE(p.n_c, 0) + 4))
                       AS ll
            FROM te t CROSS JOIN cls CROSS JOIN ntr n
            LEFT JOIN pri p ON p.c = cls.c
            LEFT JOIN cv v ON v.c = cls.c AND v.f_val = t.f_val
            LEFT JOIN ch h ON h.c = cls.c AND h.f_hour = t.f_hour
        ),
        piv AS (
            SELECT user_id, label,
                   max(CASE WHEN c = 1 THEN ll END) AS ll1,
                   max(CASE WHEN c = 0 THEN ll END) AS ll0
            FROM scored GROUP BY 1, 2
        ),
        met AS (
            SELECT label,
                   CASE WHEN ll1 > ll0 THEN 1 ELSE 0 END AS pred,
                   CASE WHEN label = 1 THEN ll1 ELSE ll0 END AS llt,
                   greatest(ll0, ll1) AS m, ll0, ll1
            FROM piv
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_train,
               CAST(count(*) AS BIGINT) AS n_test,
               round(avg(CASE WHEN pred = label THEN 1.0 ELSE 0.0 END), 6)
                   AS accuracy,
               round(-avg(llt - (m + ln(exp(ll0 - m) + exp(ll1 - m)))), 6)
                   AS log_loss,
               round(avg(CAST(label AS DOUBLE)), 6) AS base_rate
        FROM met
    """,
    doc="In-engine categorical naive Bayes, trained AND scored in one "
    "plan: label = heavy purchaser (>= 13 purchase events), features "
    "from NON-purchase events only (mean-value bin, modal "
    "hour-of-day quadrant via the deterministic lpad-string argmax — "
    "no mode() tie ambiguity across engines), split 80/20 by the "
    "engine-portable md5 hash of user_id. Laplace-smoothed "
    "class-conditional tables are tiny groupBy outputs that join "
    "back BROADCAST to the test set; log-sum-exp normalizes the "
    "log-loss stably. Reports accuracy, log-loss, and the base rate "
    "it must beat. The 100 TB shape is exactly this: model state is "
    "O(classes x feature-values), never leaves the JVM, and scoring "
    "is a map-side join — the classic why-naive-Bayes-scales story.",
    tags=("ml",),
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE(r11): persisting this projection (3 scans -> 1) was tried
    # and REVERTED — the conf-off sweep measured +52%; three pruned
    # fact scans are cheaper than caching the 4-column projection.
    # hb projected once is kept (same floor(hour/6) expression, so
    # values are identical).
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.floor(F.hour("ts") / 6).cast("int").alias("hb"),
    )
    ev_np = ev.filter(F.col("event_type") != "purchase")
    uval = ev_np.groupBy("user_id").agg(F.avg("value").alias("mv"))
    ub = ev_np.groupBy("user_id", "hb").agg(F.count("*").alias("cnt"))
    uhour = ub.groupBy("user_id").agg(
        F.substring_index(
            F.max(
                F.concat(
                    F.lpad(F.col("cnt").cast("string"), 10, "0"),
                    F.lit(":"),
                    F.col("hb").cast("string"),
                )
            ),
            ":",
            -1,
        ).alias("f_hour")
    )
    lab = ev.groupBy("user_id").agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 13
        )
        .cast("int")
        .alias("label")
    )
    slot = string_hash(
        F.concat(F.col("user_id").cast("string"), F.lit(_NB_SALT))
    ) % 5
    # persist the per-user feature frame: tr feeds four training
    # summaries and te the scoring pass — uncached each one re-runs the
    # 3-way per-user rollup join (18 fact scans in the executed plan).
    # Much smaller than the fact table (one row per user) and dropped
    # by release_caches().
    base = (
        uval.join(uhour, "user_id")
        .join(lab, "user_id")
        .select(
            "user_id",
            F.when(F.col("mv") < 48, "lo")
            .when(F.col("mv") < 52, "mid")
            .otherwise("hi")
            .alias("f_val"),
            "f_hour",
            "label",
            slot.alias("slot"),
        )
        # summary width (session.cache_width): cached at the session's
        # static 32-partition width the five near-empty-partition
        # consumers each dragged 32-task exchanges (the r11 trap)
        .coalesce(cache_width(spark))
    ).persist()
    tr = base.filter(F.col("slot") < 4)
    te = base.filter(F.col("slot") >= 4)
    ntr = tr.agg(F.count("*").cast("double").alias("n_train"))
    pri = tr.groupBy(F.col("label").alias("c")).agg(
        F.count("*").cast("double").alias("n_c")
    )
    cv = tr.groupBy(F.col("label").alias("c"), "f_val").agg(
        F.count("*").cast("double").alias("cnt_v")
    )
    ch = tr.groupBy(F.col("label").alias("c"), "f_hour").agg(
        F.count("*").cast("double").alias("cnt_h")
    )
    cls = spark.range(2).select(F.col("id").cast("int").alias("c"))
    n_c = F.coalesce(F.col("n_c"), F.lit(0.0))
    cvr = cv.select(
        F.col("c").alias("cv_c"), F.col("f_val").alias("cv_f"), "cnt_v"
    )
    chr_ = ch.select(
        F.col("c").alias("ch_c"), F.col("f_hour").alias("ch_f"), "cnt_h"
    )
    scored = (
        te.crossJoin(F.broadcast(cls))
        .crossJoin(F.broadcast(ntr))
        .join(F.broadcast(pri), "c", "left")
        .join(
            F.broadcast(cvr),
            (F.col("c") == F.col("cv_c")) & (F.col("f_val") == F.col("cv_f")),
            "left",
        )
        .join(
            F.broadcast(chr_),
            (F.col("c") == F.col("ch_c"))
            & (F.col("f_hour") == F.col("ch_f")),
            "left",
        )
        .select(
            "user_id",
            "label",
            "c",
            (
                F.log((n_c + 1) / (F.col("n_train") + 2))
                + F.log(
                    (F.coalesce(F.col("cnt_v"), F.lit(0.0)) + 1) / (n_c + 3)
                )
                + F.log(
                    (F.coalesce(F.col("cnt_h"), F.lit(0.0)) + 1) / (n_c + 4)
                )
            ).alias("ll"),
        )
    )
    piv = scored.groupBy("user_id", "label").agg(
        F.max(F.when(F.col("c") == 1, F.col("ll"))).alias("ll1"),
        F.max(F.when(F.col("c") == 0, F.col("ll"))).alias("ll0"),
    )
    m = F.greatest("ll0", "ll1")
    llt = F.when(F.col("label") == 1, F.col("ll1")).otherwise(F.col("ll0"))
    pred = F.when(F.col("ll1") > F.col("ll0"), 1).otherwise(0)
    return piv.crossJoin(
        F.broadcast(tr.agg(F.count("*").cast("long").alias("n_train")))
    ).agg(
        F.max("n_train").alias("n_train"),
        F.count("*").cast("long").alias("n_test"),
        F.round(
            F.avg(F.when(pred == F.col("label"), 1.0).otherwise(0.0)), 6
        ).alias("accuracy"),
        F.round(
            -F.avg(
                llt
                - (
                    m
                    + F.log(
                        F.exp(F.col("ll0") - m) + F.exp(F.col("ll1") - m)
                    )
                )
            ),
            6,
        ).alias("log_loss"),
        F.round(F.avg(F.col("label").cast("double")), 6).alias("base_rate"),
    )


_CB_SALT = ":classbal-salt-r5"


@query(
    "sample-class-balance",
    oracle=f"""
        WITH counts AS (
            SELECT lang, CAST(count(*) AS DOUBLE) AS n_c FROM documents
            GROUP BY lang
        ),
        m AS (SELECT min(n_c) AS m FROM counts),
        kept AS (
            SELECT d.lang,
                   CASE WHEN ({sql_string_hash("CAST(d.doc_id AS VARCHAR) || '" + _CB_SALT + "'")}) % 1000000
                        < CAST(floor(1000000 * mm.m / c.n_c) AS BIGINT)
                        THEN 1 ELSE 0 END AS keep
            FROM documents d
            JOIN counts c ON d.lang = c.lang
            CROSS JOIN m mm
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_before,
               CAST(sum(keep) AS BIGINT) AS n_kept,
               round(sum(keep) / CAST(count(*) AS DOUBLE), 6) AS keep_rate
        FROM kept GROUP BY lang
    """,
    doc="Deterministic class rebalancing by Bernoulli hash thresholding "
    "— downsample every language to (approximately) the minority "
    "class size by keeping doc_id-hash %% 1e6 < 1e6*m/n_c: no "
    "per-class ranking window (which would funnel each class through "
    "one task at 100 TB — the exact trap sample-fixed-k-per-group "
    "documents for its small-k case), no rand() irreproducibility; "
    "re-runs, engines, and cluster sizes all keep the SAME rows. "
    "Class counts are a tiny broadcast; the pass over the fact table "
    "is map-only. Emits per-class before/after so the residual "
    "imbalance of the Bernoulli approximation is visible.",
    tags=("sample", "ml"),
)
def sample_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # persist the BOUNDED per-language counts (<= #langs rows at any
    # scale): the min and the keep-rate join both re-consumed them
    # (3 documents scans -> 2)
    counts = d.groupBy("lang").agg(
        F.count("*").cast("double").alias("n_c")
    ).coalesce(1).persist()
    m = counts.agg(F.min("n_c").alias("m"))
    keep = (
        string_hash(
            F.concat(F.col("doc_id").cast("string"), F.lit(_CB_SALT))
        )
        % 1000000
        < F.floor(1000000 * F.col("m") / F.col("n_c")).cast("long")
    ).cast("int")
    kept = (
        d.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(m))
        .select("lang", keep.alias("keep"))
    )
    return kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_before"),
        F.sum("keep").cast("long").alias("n_kept"),
        F.round(
            F.sum("keep") / F.count("*").cast("double"), 6
        ).alias("keep_rate"),
    )


_LC_SALT = ":lc-salt-r5"


@query(
    "ml-learning-curve",
    oracle=f"""
        WITH ev_np AS (
            SELECT user_id, avg(value) AS mv FROM events
            WHERE event_type <> 'purchase' GROUP BY user_id
        ),
        lab AS (
            SELECT user_id,
                   CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) >= 13
                        THEN 1 ELSE 0 END AS label
            FROM events GROUP BY user_id
        ),
        base AS (
            SELECT v.user_id,
                   CASE WHEN v.mv < 48 THEN 'lo'
                        WHEN v.mv < 52 THEN 'mid' ELSE 'hi' END AS f_val,
                   l.label,
                   ({sql_string_hash("CAST(v.user_id AS VARCHAR) || '" + _LC_SALT + "'")}) % 100
                       AS h
            FROM ev_np v JOIN lab l USING (user_id)
        ),
        fr AS (SELECT unnest([16, 32, 48, 64, 80]) AS frac),
        model AS (
            SELECT fr.frac, b.f_val,
                   CAST(count(*) AS BIGINT) AS n_cell,
                   CASE WHEN sum(b.label) * 2 > count(*) THEN 1 ELSE 0 END
                       AS pred
            FROM base b JOIN fr ON b.h < fr.frac
            GROUP BY fr.frac, b.f_val
        ),
        nt AS (
            SELECT fr.frac, CAST(count(*) AS BIGINT) AS n_train
            FROM base b JOIN fr ON b.h < fr.frac GROUP BY fr.frac
        ),
        te AS (SELECT * FROM base WHERE h >= 80)
        SELECT m.frac AS train_pct_of_pool, nt.n_train,
               CAST(count(*) AS BIGINT) AS n_test,
               round(avg(CASE WHEN m.pred = t.label THEN 1.0 ELSE 0.0 END), 6)
                   AS accuracy
        FROM te t
        JOIN model m ON m.f_val = t.f_val
        JOIN nt ON nt.frac = m.frac
        GROUP BY m.frac, nt.n_train
    """,
    doc="Data-scaling learning curve — the per-cell majority-vote "
    "classifier (predict heavy-purchaser from the mean-value bin) "
    "retrained at 5 nested training-set sizes (16/32/48/64/80 hash "
    "percentiles of users — nested so each larger set CONTAINS the "
    "smaller, the property that makes the curve monotone-comparable) "
    "and evaluated on the fixed >=80 holdout. The multi-size sweep "
    "costs ONE pass: rows join the tiny fraction list on h < frac "
    "(each row lands in every model it belongs to) and the 5 models "
    "are one grouped aggregate — no per-size rescan, which is the "
    "difference between 5x and 1x the fact-table IO when the pool is "
    "100 TB. How accuracy bends with n is the first diagnostic for "
    "'do we need more data or a better model'.",
    tags=("ml", "eval"),
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev_np = (
        ev.filter(F.col("event_type") != "purchase")
        .groupBy("user_id")
        .agg(F.avg("value").alias("mv"))
    )
    lab = ev.groupBy("user_id").agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 13
        )
        .cast("int")
        .alias("label")
    )
    h = string_hash(
        F.concat(F.col("user_id").cast("string"), F.lit(_LC_SALT))
    ) % 100
    # persist the per-user feature/label summary: the 5-fraction
    # broadcast fan-out AND the held-out test slice both re-consumed it
    # (6 events scans). r11's attempt cached it at the static
    # 32-partition width and measured +49%; the cached shape now
    # coalesces to summary width (session.cache_width).
    base = ev_np.join(lab, "user_id").select(
        "user_id",
        F.when(F.col("mv") < 48, "lo")
        .when(F.col("mv") < 52, "mid")
        .otherwise("hi")
        .alias("f_val"),
        "label",
        h.alias("h"),
    ).coalesce(cache_width(spark)).persist()
    fr = spark.createDataFrame(
        [(16,), (32,), (48,), (64,), (80,)], ["frac"]
    )
    joined = base.join(F.broadcast(fr), F.col("h") < F.col("frac"))
    model = joined.groupBy("frac", "f_val").agg(
        F.count("*").cast("long").alias("n_cell"),
        (F.sum("label") * 2 > F.count("*")).cast("int").alias("pred"),
    )
    nt = joined.groupBy("frac").agg(
        F.count("*").cast("long").alias("n_train")
    )
    te = base.filter(F.col("h") >= 80)
    return (
        te.join(
            F.broadcast(model.select("frac", "f_val", "pred")), "f_val"
        )
        .join(F.broadcast(nt), "frac")
        .groupBy(
            F.col("frac").cast("long").alias("train_pct_of_pool"),
            "n_train",
        )
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.round(
                F.avg(
                    F.when(F.col("pred") == F.col("label"), 1.0).otherwise(
                        0.0
                    )
                ),
                6,
            ).alias("accuracy"),
        )
    )


@query(
    "ml-cost-threshold",
    oracle="""
        WITH scored AS (
            SELECT round(value, 1) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
            FROM events WHERE value IS NOT NULL
        ),
        bins AS (
            SELECT s, CAST(sum(y) AS DOUBLE) AS pos,
                   CAST(sum(1 - y) AS DOUBLE) AS neg
            FROM scored GROUP BY s
        ),
        cum AS (
            SELECT s,
                   sum(pos) OVER ()
                       - coalesce(sum(pos) OVER (ORDER BY s
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS tp,
                   sum(neg) OVER ()
                       - coalesce(sum(neg) OVER (ORDER BY s
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS fp,
                   coalesce(sum(pos) OVER (ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS fn,
                   sum(pos) OVER () AS np, sum(neg) OVER () AS nn
            FROM bins
        ),
        costs AS (
            SELECT c.fn_cost, u.s,
                   (u.fp * 1.0 + u.fn * c.fn_cost) / (u.np + u.nn)
                       AS exp_cost
            FROM cum u
            CROSS JOIN (SELECT unnest([1, 5, 10]) AS fn_cost) c
        ),
        best AS (
            SELECT fn_cost, s, exp_cost,
                   row_number() OVER (PARTITION BY fn_cost
                                      ORDER BY exp_cost, s) AS rn
            FROM costs
        )
        SELECT CAST(fn_cost AS BIGINT) AS fn_cost,
               round(s, 1) AS best_threshold,
               round(exp_cost, 6) AS expected_cost
        FROM best WHERE rn = 1
    """,
    doc="Cost-sensitive decision threshold: for asymmetric "
    "false-negative costs (1x, 5x, 10x a false positive) sweep every "
    "candidate threshold of the rounded score and pick the one "
    "minimizing expected cost (FP + c*FN)/N — predict-positive means "
    "score >= threshold. stats-youden-threshold maximizes J, which "
    "implicitly prices FN and FP equally; real triage (fraud review, "
    "PII escalation, unsafe-content filtering) never does. The sweep "
    "runs entirely on the bounded distinct-score summary (cumulative "
    "windows <= ~1000 rows), the 3-cost grid is a literal unnest, "
    "and per-cost argmin is a 3-partition window — fact table "
    "touched once.",
    tags=("ml", "eval"),
)
def ml_cost_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    scored = ev.select(
        F.round("value", 1).alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = scored.groupBy("s").agg(
        F.sum("y").cast("double").alias("pos"),
        F.sum(1 - F.col("y")).cast("double").alias("neg"),
    )
    w_all = Window.partitionBy()
    w_prev = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = bins.select(
        "s",
        (
            F.sum("pos").over(w_all)
            - F.coalesce(F.sum("pos").over(w_prev), F.lit(0.0))
        ).alias("tp"),
        (
            F.sum("neg").over(w_all)
            - F.coalesce(F.sum("neg").over(w_prev), F.lit(0.0))
        ).alias("fp"),
        F.coalesce(F.sum("pos").over(w_prev), F.lit(0.0)).alias("fn"),
        F.sum("pos").over(w_all).alias("np"),
        F.sum("neg").over(w_all).alias("nn"),
    )
    costs_dim = spark.createDataFrame([(1,), (5,), (10,)], ["fn_cost"])
    costs = cum.crossJoin(F.broadcast(costs_dim)).select(
        "fn_cost",
        "s",
        (
            (F.col("fp") * 1.0 + F.col("fn") * F.col("fn_cost"))
            / (F.col("np") + F.col("nn"))
        ).alias("exp_cost"),
    )
    w_best = Window.partitionBy("fn_cost").orderBy("exp_cost", "s")
    return (
        costs.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            F.col("fn_cost").cast("long").alias("fn_cost"),
            F.round("s", 1).alias("best_threshold"),
            F.round("exp_cost", 6).alias("expected_cost"),
        )
    )


@query(
    "attribution-time-decay",
    oracle="""
        WITH purchases AS (
            SELECT user_id, ts AS p_ts, event_id AS p_id
            FROM events WHERE event_type = 'purchase'
        ),
        touches AS (
            SELECT e.event_type, p.p_id,
                   power(0.5, CAST(date_diff('second', e.ts, p.p_ts)
                                   AS DOUBLE) / 21600.0) AS w
            FROM events e
            JOIN purchases p ON p.user_id = e.user_id
             AND e.ts >= p.p_ts - INTERVAL 24 HOUR AND e.ts < p.p_ts
            WHERE e.event_type IN ('click', 'view', 'signup')
        ),
        norm AS (
            SELECT event_type, p_id,
                   w / sum(w) OVER (PARTITION BY p_id) AS credit
            FROM touches
        )
        SELECT event_type,
               round(sum(credit), 4) AS attributed_conversions,
               CAST(count(*) AS BIGINT) AS n_touches
        FROM norm GROUP BY event_type ORDER BY event_type
    """,
    doc="Time-decay multi-touch attribution (6h half-life): every "
    "touchpoint in the 24h pre-purchase window earns "
    "0.5^(dt/halflife), normalized per conversion so channel totals "
    "conserve conversions exactly — the fourth standard model "
    "completing the attribution family (last-touch, position-based "
    "U-shape, Shapley): position-based credits BY RANK, time-decay "
    "by RECENCY, and the two disagree precisely when touch spacing "
    "is uneven — comparing the family's outputs on the same touch "
    "relation is how analysts bound model risk. Same scale contract "
    "as its siblings: user-keyed range join bounded by the 24h "
    "lookback, one per-conversion normalization window (bounded by "
    "touches-per-purchase), codegen weights.",
    tags=("attribution", "analytics"),
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    touches = (
        ev.filter(F.col("event_type").isin("click", "view", "signup"))
        .join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
            & (F.col("ts") < F.col("p_ts")),
        )
        .select(
            "event_type",
            "p_id",
            F.pow(
                0.5,
                (
                    F.unix_timestamp("p_ts") - F.unix_timestamp("ts")
                ).cast("double")
                / 21600.0,
            ).alias("w"),
        )
    )
    wn = Window.partitionBy("p_id")
    norm = touches.select(
        "event_type",
        (F.col("w") / F.sum("w").over(wn)).alias("credit"),
    )
    return (
        norm.groupBy("event_type")
        .agg(
            F.round(F.sum("credit"), 4).alias("attributed_conversions"),
            F.count("*").cast("long").alias("n_touches"),
        )
        .orderBy("event_type")
    )


_BSE_REPS = 12
_BSE_CDF = (0.367879, 0.735759, 0.919699, 0.981012)


@query(
    "ml-bootstrap-slope-se",
    oracle=f"""
        WITH pu AS (
            SELECT user_id,
                   ln(1 + CAST(sum(CASE WHEN event_type <> 'purchase'
                                        THEN 1 ELSE 0 END) AS DOUBLE)) AS x,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS y
            FROM events GROUP BY user_id
            HAVING sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
                   > 0
        ),
        analytic AS (
            SELECT regr_slope(y, x) AS slope,
                   sqrt(((count(*) - 1)
                         * (var_samp(y)
                            - covar_samp(x, y) * covar_samp(x, y)
                              / var_samp(x)) / (count(*) - 2))
                        / ((count(*) - 1) * var_samp(x))) AS se_analytic,
                   CAST(count(*) AS BIGINT) AS n
            FROM pu
        ),
        reps AS (SELECT range AS rep FROM range(0, {_BSE_REPS})),
        weighted AS (
            SELECT rep, x, y,
                   CASE
                     WHEN u < {_BSE_CDF[0]} THEN 0
                     WHEN u < {_BSE_CDF[1]} THEN 1
                     WHEN u < {_BSE_CDF[2]} THEN 2
                     WHEN u < {_BSE_CDF[3]} THEN 3
                     ELSE 4
                   END AS w
            FROM (
                SELECT rep, x, y,
                       CAST(('0x' || substring(
                            md5(CAST(user_id AS VARCHAR) || ':bse:' ||
                                CAST(rep AS VARCHAR)), 1, 12)) AS BIGINT)
                           / 281474976710656.0 AS u
                FROM pu CROSS JOIN reps
            )
        ),
        rep_slopes AS (
            SELECT rep,
                   (sum(w * x * y) - sum(w * x) * sum(w * y) / sum(w))
                   / (sum(w * x * x) - sum(w * x) * sum(w * x) / sum(w))
                       AS slope_b
            FROM weighted GROUP BY rep
        )
        SELECT a.n AS n_users,
               CAST({_BSE_REPS} AS BIGINT) AS n_replicas,
               round(a.slope, 6) AS slope,
               round(a.se_analytic, 6) AS se_analytic,
               round(stddev_samp(r.slope_b), 6) AS se_bootstrap,
               round(stddev_samp(r.slope_b) / a.se_analytic, 4) AS se_ratio
        FROM rep_slopes r CROSS JOIN analytic a
        GROUP BY a.n, a.slope, a.se_analytic
    """,
    doc="Poisson-bootstrap standard error of a regression slope vs the "
    "analytic OLS SE, on the per-user activity->purchases fit: each "
    "user draws a deterministic hash-Poisson(1) weight per replica "
    "(sample-poisson-bootstrap's shardable scheme) and the weighted "
    "slope recomputes from weighted moments — no resampling shuffle, "
    "no model library. se_ratio far from 1 flags "
    "heteroscedasticity/leverage that the homoscedastic analytic "
    "formula (ml-ols-inference's) misses — the cheap robustness "
    "check before trusting reported SEs. One fact pass builds the "
    "user rollup; the 12x fan-out happens on the TWO-COLUMN rollup, "
    "and each replica is one weighted-moment partial aggregate.",
    tags=("ml", "stats"),
)
def ml_bootstrap_slope_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pu = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") != "purchase", 1).otherwise(0)
            ).alias("npc"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("double")
            .alias("y"),
        )
        .filter(F.col("npc") > 0)
        .select(
            "user_id",
            F.log(1 + F.col("npc").cast("double")).alias("x"),
            "y",
        )
    )
    analytic = pu.agg(
        F.regr_slope("y", "x").alias("slope"),
        F.sqrt(
            (
                (F.count("*") - 1)
                * (
                    F.var_samp("y")
                    - F.covar_samp("x", "y")
                    * F.covar_samp("x", "y")
                    / F.var_samp("x")
                )
                / (F.count("*") - 2)
            )
            / ((F.count("*") - 1) * F.var_samp("x"))
        ).alias("se_analytic"),
        F.count("*").cast("long").alias("n"),
    )
    reps = spark.range(_BSE_REPS).select(F.col("id").alias("rep"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit(":bse:"),
                        F.col("rep").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        / 281474976710656.0
    )
    w = (
        F.when(u < _BSE_CDF[0], 0)
        .when(u < _BSE_CDF[1], 1)
        .when(u < _BSE_CDF[2], 2)
        .when(u < _BSE_CDF[3], 3)
        .otherwise(4)
        .cast("double")
    )
    weighted = pu.crossJoin(F.broadcast(reps)).select(
        "rep", "x", "y", w.alias("w")
    )
    wc = F.col("w")
    rep_slopes = weighted.groupBy("rep").agg(
        (
            (
                F.sum(wc * F.col("x") * F.col("y"))
                - F.sum(wc * F.col("x")) * F.sum(wc * F.col("y")) / F.sum(wc)
            )
            / (
                F.sum(wc * F.col("x") * F.col("x"))
                - F.sum(wc * F.col("x")) * F.sum(wc * F.col("x")) / F.sum(wc)
            )
        ).alias("slope_b")
    )
    return (
        rep_slopes.crossJoin(F.broadcast(analytic))
        .groupBy("n", "slope", "se_analytic")
        .agg(F.stddev_samp("slope_b").alias("se_boot"))
        .select(
            F.col("n").alias("n_users"),
            F.lit(_BSE_REPS).cast("long").alias("n_replicas"),
            F.round("slope", 6).alias("slope"),
            F.round("se_analytic", 6).alias("se_analytic"),
            F.round("se_boot", 6).alias("se_bootstrap"),
            F.round(F.col("se_boot") / F.col("se_analytic"), 4).alias(
                "se_ratio"
            ),
        )
    )
